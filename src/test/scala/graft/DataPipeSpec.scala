package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.datapipe.TrainingOps

/** Training-data pipeline ops (SURVEY.md par 2.10) over the driver's
  * documents/embeddings tables at sf0.001. The oracle compare
  * (graft.Verify + DuckDB) is the authoritative gate; these tests pin
  * semantic invariants that SQL equality alone wouldn't explain.
  */
class DataPipeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val sfDir = "/root/testdata/sf0.001"
  private var spark: SparkSession = _
  private def docs = spark.read.parquet(s"$sfDir/documents.parquet")
  private def embs = spark.read.parquet(s"$sfDir/embeddings.parquet")

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("datapipe-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("exact dedup partitions the corpus: group sizes sum to row count") {
    val n = docs.count()
    val g = TrainingOps.dedupExact(docs).agg(sum("n_copies")).collect()(0).getLong(0)
    assert(g == n)
  }

  test("minhash LSH: pairs are between exact-dedup representatives only") {
    // exact duplicates are d1's job: the pre-pass collapses them before
    // banding, so no candidate pair may join two identical texts, and
    // every pair endpoint must be a cluster representative (min doc_id
    // for its text)
    val cands = TrainingOps.minhashPairs(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(cands.nonEmpty)
    val reps = TrainingOps.dedupExact(docs).collect().map(_.getLong(2)).toSet
    cands.foreach { case (a, b) =>
      assert(reps.contains(a) && reps.contains(b),
        s"pair $a-$b includes a non-representative doc_id")
    }
    val textOf = docs.select(col("doc_id"), md5(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    cands.foreach { case (a, b) =>
      assert(textOf(a) != textOf(b), s"pair $a-$b joins two identical texts")
    }
  }

  test("LSH skew armor: 10k-doc exact-duplicate cluster yields zero banding blow-up") {
    val sp = spark; import sp.implicits._
    // a Common-Crawl-style mirror cluster: 10k copies of one boilerplate
    // page. Banding raw doc_ids would enqueue ~10k²/2 pairs per band;
    // the exact-dedup pre-pass must reduce the cluster to ONE representative.
    val boiler = (0 until 60).map(i => s"mirror boilerplate word$i").mkString(" ")
    val nearA = (0 until 60).map(i => s"alpha shared text token$i").mkString(" ")
    val nearB = (0 until 59).map(i => s"alpha shared text token$i").mkString(" ") + " changed"
    val rows = (0L until 10000L).map(i => (i, boiler)) ++ Seq((20001L, nearA), (20002L, nearB))
    val adv = rows.toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val pairs = TrainingOps.minhashPairs(adv).collect()
    val sec = (System.nanoTime() - t0) / 1e9
    // the only possible pairs are among the 3 distinct texts
    assert(pairs.length <= 3, s"${pairs.length} pairs — cluster leaked into banding")
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).contains((20001L, 20002L)),
      "near-dup pair lost by the pre-pass")
    assert(sec < 60.0, f"skew run took $sec%.1f s — quadratic blow-up")
    // multiplicity is preserved by d1, not lost
    val d1 = TrainingOps.dedupExact(adv).filter(col("n_copies") === 10000L).collect()
    assert(d1.length == 1 && d1(0).getLong(2) == 0L)
  }

  test("LSH band-bucket cap drops degenerate near-dup families") {
    val sp = spark; import sp.implicits._
    // 100 distinct texts differing in one word: most bands agree across
    // the whole family, so uncapped banding yields ~100*99/2 pairs; the
    // cap (64) must drop those buckets entirely
    val family = (0 until 100).map { i =>
      val ws = (0 until 50).map(j => if (j == 25) s"variant$i" else s"common word$j")
      (i.toLong, ws.mkString(" "))
    }
    val fam = family.toDF("doc_id", "text")
    val uncapped = TrainingOps.minhashPairs(fam, maxBandBucket = 1 << 20).count()
    val capped = TrainingOps.minhashPairs(fam, maxBandBucket = 64).count()
    assert(uncapped > 1000, s"family not degenerate enough: $uncapped")
    assert(capped < uncapped / 10, s"cap ineffective: $capped vs $uncapped")
  }

  test("jaccard verify: scores in (0,1] over representative pairs") {
    val rows = TrainingOps.jaccardVerify(docs).collect()
    assert(rows.nonEmpty, "no candidate survived jaccard >= 0.4")
    rows.foreach { r =>
      val j = r.getDouble(2)
      assert(j > 0.0 && j <= 1.0)
    }
  }

  test("simhash: near-identical docs have small hamming distance") {
    val sh = TrainingOps.simhash(docs)
    val joined = docs.select(col("doc_id"), col("text"))
      .join(sh, "doc_id")
    val pair = joined.as("x").join(joined.as("y"),
        col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
      .filter(length(col("x.text")) > 50)
      .select(bit_count(col("x.simhash").bitwiseXOR(col("y.simhash"))).as("d"))
      .collect()
    pair.foreach(r => assert(r.getInt(0) == 0, "identical text must give identical simhash"))
  }

  test("lsh curve: exact S-curve values for (4,3); monotonic; bound check") {
    val sp = spark
    val out = TrainingOps.lshCurve(sp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    // hand values: J=0.5 -> (1e12 - 875^4) div 1e6 = 413818;
    // J=0.8 -> (1e12 - 488^4) div 1e6 = 943287
    assert(out.length == 9)
    assert(out.toMap.apply(500000L) == 413818L)
    assert(out.toMap.apply(800000L) == 943287L)
    assert(out.map(_._2).sliding(2).forall(p => p(0) < p(1)), "S-curve must be monotonic")
    intercept[IllegalArgumentException] { TrainingOps.lshCurve(sp, bands = 10, rows = 2) }
  }

  test("trap detection: digit runs collapse to one template; threshold gates the flag") {
    val sp = spark; import sp.implicits._
    val urls = ((1 to 60).map(i => s"https://a.example.com/cal/2026/$i") ++
      (1 to 10).map(i => s"https://a.example.com/page/$i") ++
      Seq("https://b.example.com/about")).toDF("url")
    val out = graft.datapipe.GraphOps.trapDetection(urls).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(("a.example.com", "/cal/N/N")) == ((60L, true)))
    assert(out(("a.example.com", "/page/N")) == ((10L, false)))
    assert(out(("b.example.com", "/about")) == ((1L, false)))
  }

  test("rendezvous shards: moves only TO the new shard at ~1/(n+1), mod baseline reshuffles, invariance") {
    val sp = spark; import sp.implicits._
    val d = (0L until 2000L).toDF("doc_id")
    val out = TrainingOps.rendezvousShards(d).collect()
    val movedFrac = out.count(_.getBoolean(5)).toDouble / out.length
    val modFrac = out.count(_.getBoolean(6)).toDouble / out.length
    // HRW expectation 1/9 ≈ 0.111; mod-hash expectation 8/9 ≈ 0.889
    assert(movedFrac > 0.05 && movedFrac < 0.20, s"hrw moved $movedFrac")
    assert(modFrac > 0.80, s"mod moved $modFrac")
    // THE rendezvous property: adding shard 8 can only steal docs FOR
    // shard 8 — existing scores are untouched, so every mover lands there
    out.filter(_.getBoolean(5)).foreach(r => assert(r.getInt(2) == 8))
    assert(out.map(_.getInt(1)).toSet == (0 until 8).toSet)
    assert(out.map(_.getInt(2)).toSet == (0 until 9).toSet)
    // partitioning invariance + n=1 degenerate path
    val rep = TrainingOps.rendezvousShards(d.repartition(13)).collect()
    assert(rep.map(_.toString).sorted.sameElements(out.map(_.toString).sorted))
    val one = TrainingOps.rendezvousShards(d, nBefore = 1, nAfter = 2).collect()
    assert(one.forall(_.getInt(1) == 0))
    intercept[IllegalArgumentException] { TrainingOps.rendezvousShards(d, nBefore = 0) }
  }

  test("compaction plan: contiguous bins, no premature close, overshoot skips labels, invariance") {
    val sp = spark; import sp.implicits._
    // source a at target 2000: shards 0-1 fill bin 0 exactly; 2-4 land in
    // bin 1 (the 7000-byte shard 4 JOINS bin 1 because its cum_before
    // 3500 < 4000 — bins close on crossing, not on size); shard 5 then
    // starts at cum 10500 -> bin 5, skipping labels 2-4 (the overshoot
    // diagnostic). source b never fills a bin -> single bin 0.
    val m = Seq(
      ("a", 0, 1000L), ("a", 1, 1000L), ("a", 2, 1000L), ("a", 3, 500L),
      ("a", 4, 7000L), ("a", 5, 100L),
      ("b", 0, 50L), ("b", 1, 50L)).toDF("source", "shard_id", "bytes")
    val out = TrainingOps.compactionPlan(m, targetBytes = 2000L).collect()
      .map(r => (r.getString(0), r.getInt(1)) ->
        ((r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6)))).toMap
    assert(out(("a", 0)) == ((0L, 2000L, 2L, 1000000L)))
    assert(out(("a", 1)) == ((0L, 2000L, 2L, 1000000L)))
    assert(out(("a", 4)) == ((1L, 8500L, 3L, 4250000L)))
    assert(out(("a", 5)) == ((5L, 100L, 1L, 50000L)))   // label skip 2..4
    assert(out(("b", 1)) == ((0L, 100L, 2L, 50000L)))
    // contiguity: bin labels non-decreasing in shard_id order per source
    val aBins = (0 to 5).map(i => out(("a", i))._1)
    assert(aBins.sliding(2).forall(p => p(0) <= p(1)), s"bins $aBins")
    // no-premature-close: every non-final bin's cumulative end crosses
    // its (label+1)*target boundary
    val bytesBy = Seq(1000L, 1000L, 1000L, 500L, 7000L, 100L)
    val cumEnd = bytesBy.scanLeft(0L)(_ + _).tail
    aBins.zipWithIndex.foreach { case (bin, i) =>
      if (bin != aBins.last) {
        val lastOfBin = aBins.lastIndexOf(bin)
        assert(cumEnd(lastOfBin) >= (bin + 1) * 2000L, s"bin $bin closed early")
      }
    }
    // partitioning invariance + bad-target rejection
    val rep = TrainingOps.compactionPlan(m.repartition(7), targetBytes = 2000L)
      .collect().map(_.toString).sorted
    assert(rep.sameElements(TrainingOps.compactionPlan(m, 2000L).collect().map(_.toString).sorted))
    intercept[IllegalArgumentException] { TrainingOps.compactionPlan(m, targetBytes = 0L) }
  }

  test("retention plan: older_than + retain_last rescue, reclaim on last_snap only, kept zeros, invariance") {
    val sp = spark; import sp.implicits._
    // 6 snapshots at ts 0..50; olderThan 45 makes snaps 0..4 over-age,
    // retain_last=2 protects ranks 1-2 (snaps 5, 4) -> snap 4 is
    // RESCUED despite being over-age; expired = 0,1,2,3
    val snaps = Seq((0L, 0L), (1L, 10L), (2L, 20L), (3L, 30L), (4L, 40L), (5L, 50L))
      .toDF("snap_id", "committed_ts")
    val files = Seq((0, 100L), (0, 50L), (3, 7L), (4, 11L), (5, 13L))
      .toDF("last_snap", "bytes")
    def run(s: org.apache.spark.sql.DataFrame, f: org.apache.spark.sql.DataFrame) =
      TrainingOps.retentionPlan(s, f, olderThanTs = 45L, retainLast = 2).collect()
        .map(r => r.getInt(0) -> ((r.getLong(1), r.getInt(2), r.getBoolean(3),
          r.getLong(4), r.getLong(5)))).toMap
    val out = run(snaps, files)
    assert(out(0) == ((0L, 6, true, 2L, 150L)))
    assert(out(1) == ((10L, 5, true, 0L, 0L))) // expired, but no files end here
    assert(out(2) == ((20L, 4, true, 0L, 0L)))
    assert(out(3) == ((30L, 3, true, 1L, 7L)))
    assert(out(4) == ((40L, 2, false, 0L, 0L))) // over-age, rescued; file kept
    assert(out(5) == ((50L, 1, false, 0L, 0L)))
    // survivors are a contiguous time-suffix — the precondition that
    // makes last_snap-expired equivalent to whole-range-expired
    assert(out.filter(!_._2._3).keys.toSeq.sorted == Seq(4, 5))
    assert(run(snaps.repartition(5), files.repartition(3)) == out)
    intercept[IllegalArgumentException] {
      TrainingOps.retentionPlan(snaps, files, 45L, 0)
    }
  }

  test("nfc audit: composition classes, astral codepoint counts, idempotence, cross-form collapse") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      (0L, "cafe\u0301"),            // decomposed
      (1L, "caf\u00e9"),             // precomposed - same text post-NFC
      (2L, "\u212b"),                // Angstrom singleton
      (3L, "\u1100\u1161"),          // jamo pair -> one syllable
      (4L, "A\u0308\u0301"),         // partial: output keeps a mark
      (5L, "plain ascii"),
      (6L, "\ud83c\udf89e\u0301"))   // astral + combining tail
    val out = TrainingOps.nfcAudit(sp, rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getInt(2), r.getInt(3),
        r.getString(4)))).toMap
    assert(out(0L) == ((false, 5, 4, "caf\u00e9")))
    assert(out(1L) == ((true, 4, 4, "caf\u00e9")))
    assert(out(0L)._4 == out(1L)._4) // canonical equivalence collapses
    assert(out(2L) == ((false, 1, 1, "\u00c5")))
    assert(out(3L) == ((false, 2, 1, "\uac00")))
    assert(out(4L) == ((false, 3, 2, "\u00c4\u0301")))
    assert(out(5L) == ((true, 11, 11, "plain ascii")))
    // astral char: 3 CODEPOINTS though String.length is 4
    assert(out(6L) == ((false, 3, 2, "\ud83c\udf89\u00e9")))
    // idempotence: auditing the normalized output reports all-NFC
    val again = TrainingOps.nfcAudit(sp,
      rows.map { case (i, _) => (i, out(i)._4) }.toDF("doc_id", "text"))
      .collect()
    assert(again.forall(_.getBoolean(1)))
  }

  test("ivf multiprobe: nProbe=1 equals d9, nProbe=nCells equals brute force, top-1 monotone") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(77)
    val emb = (0L until 120L).map(id =>
      (id, Array.fill(8)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).sortBy(t => (t._1, t._2))
    val d9 = rows(TrainingOps.annIvfTopK(emb, nCells = 4))
    val mp1 = rows(TrainingOps.annIvfMultiprobe(emb, nCells = 4, nProbe = 1))
    assert(mp1.sameElements(d9)) // law 1: single probe IS d9
    val brute = rows(TrainingOps.annCosineTopK(emb))
    val mpAll = rows(TrainingOps.annIvfMultiprobe(emb, nCells = 4, nProbe = 4))
    assert(mpAll.sameElements(brute)) // law 2: all cells IS the full scan
    // monotone: each probe's top-1 score never degrades as nProbe grows
    val mp2 = rows(TrainingOps.annIvfMultiprobe(emb, nCells = 4, nProbe = 2))
    def top1(xs: Array[(Long, Int, Long, Double)]) =
      xs.filter(_._2 == 1).map(t => t._1 -> t._4).toMap
    val t1a = top1(mp1); val t1b = top1(mp2); val t1c = top1(mpAll)
    t1a.keys.foreach { q =>
      assert(t1b(q) >= t1a(q) - 1e-9 && t1c(q) >= t1b(q) - 1e-9)
    }
    intercept[IllegalArgumentException] {
      TrainingOps.annIvfMultiprobe(emb, nCells = 4, nProbe = 5)
    }
  }

  test("semdedup curve: monotone CDF, tau=0.4 row equals d14's dup count, clones fold into every tau") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(88)
    val base = (0L until 60L).map(id =>
      (id, Array.fill(8)(rnd.nextFloat() * 2 - 1)))
    // plant exact clones: ids 100-104 duplicate ids 0-4 (non-reps at every tau)
    val emb = (base ++ (0 until 5).map(i => (100L + i, base(i)._2)))
      .toDF("vec_id", "embedding")
    val curve = TrainingOps.semDedupCurve(emb, nCells = 4).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(curve.size == 9 && curve.values.forall(_._2 == 65L))
    // CDF: n_dup non-increasing in tau
    val byTau = (1 to 9).map(i => curve(i * 100000)._1)
    assert(byTau.sliding(2).forall(p => p(0) >= p(1)), s"not monotone: $byTau")
    // clones are dup at EVERY tau — even the strictest row keeps them
    assert(byTau.last >= 5L)
    // cross-op law: the tau=0.4 row IS d14's dup count
    val d14 = TrainingOps.semDedup(emb, tau = 0.4, nCells = 4)
      .filter(col("is_dup")).count()
    assert(curve(400000)._1 == d14, s"curve ${curve(400000)._1} vs d14 $d14")
  }

  test("kmeans train: integer Lloyd, inertia never increases, empty-cell carry, invariance") {
    val sp = spark; import sp.implicits._
    // two tight 2-D clusters far apart; 4 cells so some MUST stay empty
    val pts = Seq(
      (0L, Array(0.90f, 0.90f)), (1L, Array(0.92f, 0.88f)),
      (2L, Array(0.88f, 0.91f)),
      (3L, Array(-0.90f, -0.90f)), (4L, Array(-0.91f, -0.89f)))
      .toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame, iters: Int) =
      TrainingOps.kmeansTrain(df, nCells = 4, iters = iters).collect()
        .map(r => (r.getInt(0), r.getInt(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    val o1 = run(pts, 1)
    val o2 = run(pts, 2)
    assert(o2.size == 8)
    // membership partitions the data
    val members = (0 until 4).map(c => o2((c, 0))._2)
    assert(members.sum == 5)
    // Lloyd law: total final-assignment inertia is non-increasing
    val in1 = (0 until 4).map(c => o1((c, 0))._3).sum
    val in2 = (0 until 4).map(c => o2((c, 0))._3).sum
    assert(in2 <= in1, s"inertia rose: $in1 -> $in2")
    // a never-populated cell carries its centroid unchanged across iters
    val empties = (0 until 4).filter(c => o2((c, 0))._2 == 0L)
    assert(empties.nonEmpty)
    empties.foreach { c =>
      (0 until 2).foreach(i => assert(o2((c, i))._1 == o1((c, i))._1))
    }
    // a populated cell's trained centroid is the truncated member mean
    // (pinned indirectly by invariance + the oracle; here: reproducible)
    assert(run(pts.repartition(3), 2) == o2)
    intercept[IllegalArgumentException] { TrainingOps.kmeansTrain(pts, nCells = 0) }
    intercept[IllegalArgumentException] { TrainingOps.kmeansTrain(pts, iters = 0) }
  }

  test("byte stats: octets vs codepoints vs words diverge off ascii, astral counts once") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      (0L, "plain ascii text"),
      (1L, "caf\u00e9 au lait"),
      (2L, "\u4e16\u754c hello"),
      (3L, "\ud83c\udf89 party")).toDF("doc_id", "text")
    val out = TrainingOps.byteStats(rows).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getLong(4))))
      .toMap
    assert(out(0L) == ((16, 16, 3, 533L)))
    assert(out(1L) == ((13, 12, 3, 433L)))   // e-acute: 2 bytes, 1 char
    assert(out(2L) == ((12, 8, 2, 600L)))    // CJK pair: 6 bytes, 2 chars
    assert(out(3L) == ((10, 7, 2, 500L)))    // astral: 4 bytes, ONE codepoint
  }

  test("dup histogram: log2 buckets, unique mass in bucket 0, totals conserve, swarm lands high") {
    val sp = spark; import sp.implicits._
    val d = ((0 until 5).map(i => (i.toLong, s"unique $i")) ++       // 5 singletons
      (10 until 13).map(i => (i.toLong, "pair a")).take(2) ++        // one pair
      (20 until 23).map(i => (i.toLong, "triple b")) ++              // one triple
      (30 until 39).map(i => (i.toLong, "swarm c")))                 // 9 clones
      .toDF("doc_id", "text")
    val out = TrainingOps.dupSizeHistogram(d).collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(out(0) == ((5L, 5L)))   // singletons
    assert(out(1) == ((2L, 5L)))   // sizes 2 and 3 share bucket 1
    assert(out(3) == ((1L, 9L)))   // the 9-swarm: floor(log2 9) = 3
    assert(out.values.map(_._2).sum == d.count())
  }

  test("token yield: keeper attribution, cross-source dup, ppm, kept sums to global dedup") {
    val sp = spark; import sp.implicits._
    val d = Seq(
      (0L, "s1", "a b c"), (1L, "s1", "a b c"), // intra-source dup
      (2L, "s2", "a b c"),                      // cross-source dup -> keeper in s1
      (3L, "s2", "x y"), (4L, "s3", "z"))
      .toDF("doc_id", "source", "text")
    val out = TrainingOps.tokenYield(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5)))).toMap
    assert(out("s1") == ((2L, 6L, 1L, 3L, 500000L)))
    assert(out("s2") == ((2L, 5L, 1L, 2L, 400000L))) // the clone's tokens left s2
    assert(out("s3") == ((1L, 1L, 1L, 1L, 1000000L)))
    // the attribution convention makes kept columns sum to the global
    // deduped totals
    assert(out.values.map(_._3).sum == 3L)
    assert(out.values.map(_._4).sum == 6L)
  }

  test("overlap chunks: closed-form count, full coverage, shared overlap, no contained tail") {
    val sp = spark; import sp.implicits._
    def doc(n: Int) = (1 to n).map(i => s"w$i").mkString(" ")
    val rows = Seq((8L, doc(8)), (9L, doc(9)), (10L, doc(10)), (12L, doc(12)),
      (13L, doc(13)), (1L, doc(1)), (0L, "  ")).toDF("doc_id", "text")
    val out = TrainingOps.overlapChunks(rows).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getInt(3), r.getString(4))))
      .toMap
    // n<=W: one chunk; n=9 spills into a second window that keeps
    // W-S+1..W words; n=12: the second window REACHES the tail so no
    // third (contained) window is emitted; n=13 needs three
    assert(out.keys.count(_._1 == 8L) == 1 && out((8L, 0))._2 == 8)
    assert(out.keys.count(_._1 == 9L) == 2 && out((9L, 1)) == ((4, 5, "w5 w6 w7 w8 w9")))
    assert(out.keys.count(_._1 == 10L) == 2 && out((10L, 1))._2 == 6)
    assert(out.keys.count(_._1 == 12L) == 2 && out((12L, 1))._2 == 8)
    assert(out.keys.count(_._1 == 13L) == 3 && out((13L, 2)) == ((8, 5, "w9 w10 w11 w12 w13")))
    assert(out.keys.count(_._1 == 1L) == 1 && out((1L, 0)) == ((0, 1, "w1")))
    assert(!out.keys.exists(_._1 == 0L)) // blank doc: no rows
    // overlap law: consecutive chunks share exactly W-S=4 words
    assert(out((10L, 0))._3.split(' ').drop(4).sameElements(
      out((10L, 1))._3.split(' ').take(4)))
    // coverage law: stride-prefixes + last tail rebuild the document
    val c13 = (0 until 3).map(i => out((13L, i))._3.split(' '))
    assert((c13(0).take(4) ++ c13(1).take(4) ++ c13(2)).mkString(" ") == doc(13))
    intercept[IllegalArgumentException] { TrainingOps.overlapChunks(rows, window = 4, stride = 5) }
  }

  test("epoch shard order: per-epoch permutation, epochs differ, determinism, invariance") {
    val sp = spark; import sp.implicits._
    val shards = (0L until 20L).toDF("shard_id")
    val out = TrainingOps.epochShardOrder(shards, epochs = 3).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(out.size == 60)
    // each epoch's positions are a permutation of 0..19
    (0 until 3).foreach { e =>
      val pos = (0L until 20L).map(s => out((e, s))).sorted
      assert(pos == (0 until 20), s"epoch $e not a permutation")
    }
    // epochs genuinely reorder (md5 keys differ per epoch)
    val o0 = (0L until 20L).map(s => out((0, s)))
    val o1 = (0L until 20L).map(s => out((1, s)))
    assert(o0 != o1)
    // pure function of (epoch, shard): stable under repartition
    val rep = TrainingOps.epochShardOrder(shards.repartition(7), epochs = 3)
      .collect().map(r => (r.getInt(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(rep == out)
    intercept[IllegalArgumentException] { TrainingOps.epochShardOrder(shards, epochs = 0) }
  }

  test("orphan plan: four-way verdict, grace boundary keeps, ghost refs missing, dup refs collapse") {
    val sp = spark; import sp.implicits._
    val obs = Seq(("a", 10L), ("b", 10L), ("c", 79L), ("d", 80L), ("e", 5L))
      .toDF("path", "modified_ts")
    val ref = Seq("a", "b", "b", "x").toDF("path")
    def run(o: org.apache.spark.sql.DataFrame, r: org.apache.spark.sql.DataFrame) =
      TrainingOps.orphanPlan(o, r, graceTs = 80L).collect()
        .map(row => row.getString(0) -> ((
          if (row.isNullAt(1)) -1L else row.getLong(1),
          row.getBoolean(2), row.getBoolean(3), row.getString(4)))).toMap
    val out = run(obs, ref)
    assert(out("a") == ((10L, true, true, "ok")))
    assert(out("b") == ((10L, true, true, "ok")))   // duplicate refs collapse
    assert(out("c") == ((79L, true, false, "orphan")))    // just inside grace
    assert(out("d") == ((80L, true, false, "in_flight"))) // boundary PROTECTS
    assert(out("e") == ((5L, true, false, "orphan")))
    assert(out("x") == ((-1L, false, true, "missing")))   // ghost ref -> corruption signal
    assert(out.size == 6)
    assert(run(obs.repartition(7), ref.repartition(3)) == out)
  }

  test("link rot: dangling verdict, host attribution, ppm, all-dangling and all-ok hosts") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      ("https://a.com/1", "https://b.com/x"),  // crawled
      ("https://a.com/1", "https://gone.com/y"),
      ("https://a.com/2", "https://gone.com/z"),
      ("https://b.com/x", "https://a.com/1"),  // crawled
      ("https://c.com/p", "https://void.com/1"))
      .toDF("src_url", "to_url")
    val crawled = Seq("https://a.com/1", "https://a.com/2", "https://b.com/x")
      .toDF("url")
    val out = graft.datapipe.GraphOps.linkRot(edges, crawled).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(out("a.com") == ((3L, 2L, 666666L)))
    assert(out("b.com") == ((1L, 0L, 0L)))
    assert(out("c.com") == ((1L, 1L, 1000000L)))
  }

  test("hreflang reciprocity: symmetric pairs, one-sided declarations, language-agnostic reverse") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      ("a", "de", "b"), ("b", "en", "a"),   // mutual (different langs — agnostic)
      ("a", "fr", "c"),                      // one-sided
      ("c", "de", "d"), ("d", "de", "c"),   // mutual
      ("e", "de", "e"),                      // self-declaration: trivially mutual
      ("a", "it", "c")).toDF("src", "lang", "dst") // second edge a->c, also one-sided
    val out = graft.datapipe.GraphOps.hreflangReciprocity(edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getBoolean(3))
      .toMap
    assert(out(("a", "de", "b")) && out(("b", "en", "a")))
    assert(!out(("a", "fr", "c")) && !out(("a", "it", "c")))
    assert(out(("c", "de", "d")) && out(("d", "de", "c")))
    assert(out(("e", "de", "e")))
    assert(out.size == 7) // probe-side multiplicity preserved
  }

  test("canonical clusters: coalesce-to-self, cross-host counting, min rep, partitioning invariance") {
    val sp = spark; import sp.implicits._
    val pages = Seq(
      ("https://a.com/1", Some("https://c.com/x")),
      ("https://a.com/2", Some("https://c.com/x")),
      ("https://c.com/x", Some("https://c.com/x")),  // self-declared
      ("https://b.com/3", Some("https://c.com/x")),
      ("https://d.com/solo", None),                  // undeclared -> own cluster
      ("https://d.com/alpha", Some("https://d.com/k")),
      ("https://d.com/beta", Some("https://d.com/k")))
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.GraphOps.canonicalClusters(df).collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    val out = run(pages.toDF("url", "canonical"))
    // 4 pages from 3 hosts; a.com x2 + b.com are cross-host, c.com self is not
    assert(out("https://c.com/x") == ((4L, 3L, 3L, "https://a.com/1")))
    // undeclared page coalesces to itself: singleton, zero cross-host
    assert(out("https://d.com/solo") == ((1L, 1L, 0L, "https://d.com/solo")))
    // same-host cluster: no cross-host, min url is 'alpha' < 'beta'
    assert(out("https://d.com/k") == ((2L, 1L, 0L, "https://d.com/alpha")))
    assert(out.size == 3)
    val rep = run(pages.toDF("url", "canonical").repartition(7))
    assert(rep == out)
  }

  test("pagination chains: doubling resolves within horizon, cycle NULLs, self-loop terminal, y-merge, invariance") {
    val sp = spark; import sp.implicits._
    def run(edges: Seq[(String, String)], rounds: Int = 3) =
      graft.datapipe.GraphOps.paginationChains(
        edges.toDF("url", "next_url"), doublingRounds = rounds).collect()
        .map(r => r.getString(0) -> ((
          if (r.isNullAt(1)) null else r.getString(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3)))).toMap
    // proper 4-page chain + a 3-cycle + a self-loop + a 2-chain merging
    // into the 4-chain's tail (y-shape)
    val out = run(Seq(
      "a1" -> "a2", "a2" -> "a3", "a3" -> "a4",
      "c1" -> "c2", "c2" -> "c3", "c3" -> "c1",
      "s1" -> "s1",
      "y1" -> "a4"))
    assert(out("a1") == (("a4", 3, 4)))
    assert(out("a2") == (("a4", 2, 4)))
    assert(out("a4") == (("a4", 0, 4)))
    // y-merge shares the tail; chain_len is the LONGEST branch
    assert(out("y1") == (("a4", 1, 4)))
    // cycle: no terminal within any horizon -> NULL everywhere
    assert(out("c1") == ((null, -1, -1)) && out("c3") == ((null, -1, -1)))
    // self-loop edge drops, making s1 a lone terminal
    assert(out("s1") == (("s1", 0, 1)))
    // horizon: doneness propagates from the tail (f(r) = 2^r - 1), so
    // 3 rounds resolve dist <= 7 exactly: in a 10-node chain dist 7
    // resolves, dist 8 and 9 stay NULL, and chain_len reflects only
    // the RESOLVED nodes — one more round resolves everything
    val chain10 = (1 to 9).map(i => s"p$i" -> s"p${i + 1}")
    val o3 = run(chain10)
    assert(o3("p3") == (("p10", 7, 8)))
    assert(o3("p2") == ((null, -1, -1)))
    assert(o3("p1") == ((null, -1, -1)))
    val o4 = run(chain10, rounds = 4)
    assert(o4("p1") == (("p10", 9, 10)))
    assert(o4("p2") == (("p10", 8, 10)))
    // partitioning + lineage-mode invariance on the mixed graph
    val edges = Seq("a1" -> "a2", "a2" -> "a3", "c1" -> "c2", "c2" -> "c1")
    val base = graft.datapipe.GraphOps.paginationChains(edges.toDF("url", "next_url"))
      .collect().map(_.toString).sorted
    val rep = graft.datapipe.GraphOps.paginationChains(
        edges.toDF("url", "next_url").repartition(7), truncateLineage = false)
      .collect().map(_.toString).sorted
    assert(base.sameElements(rep))
    intercept[IllegalArgumentException] {
      graft.datapipe.GraphOps.paginationChains(edges.toDF("url", "next_url"), doublingRounds = 0)
    }
  }

  test("soft404: hard>soft>ok precedence, phrase AND thin conjunction, threshold edge, case-insensitive counts") {
    val sp = spark; import sp.implicits._
    def page(u: String, st: Int, body: String) = (u, st, body)
    val thin = "Sorry, page not found."                       // 4 words, 1 hit
    val longBody = ("This article explains what a 404 error is. " +
      ("filler word " * 30)).trim                             // 1 hit, > 50 words
    val edge49 = "PAGE NOT FOUND " + ("w " * 46).trim         // 49 words, upper-case hit
    val edge50 = "page not found " + ("w " * 47).trim         // 50 words: not thin
    val rows = Seq(
      page("u1", 404, thin),                  // hard_error beats the phrase
      page("u2", 200, thin),                  // soft_404
      page("u3", 200, longBody),              // phrase but long -> ok
      page("u4", 200, "tiny stub page"),      // thin but no phrase -> ok
      page("u5", 200, edge49),                // 49 < 50 -> soft_404
      page("u6", 200, edge50),                // 50 is NOT thin -> ok
      page("u7", 200, ""),                    // empty: 0 words, 0 hits -> ok
      page("u8", 200, "404 error 404 error does not exist"),  // 3 hits
      page("u9", 500, "server exploded"))     // hard_error without phrases
      .toDF("url", "http_status", "body")
    val out = graft.datapipe.GraphOps.soft404(rows).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getString(4))))
      .toMap
    assert(out("u1") == ((404, 4, 1, "hard_error")))
    assert(out("u2") == ((200, 4, 1, "soft_404")))
    assert(out("u3")._4 == "ok" && out("u3")._3 == 1)
    assert(out("u4") == ((200, 3, 0, "ok")))
    assert(out("u5") == ((200, 49, 1, "soft_404")))
    assert(out("u6") == ((200, 50, 1, "ok")))
    assert(out("u7") == ((200, 0, 0, "ok")))
    assert(out("u8") == ((200, 7, 3, "soft_404")))
    assert(out("u9") == ((500, 2, 0, "hard_error")))
    intercept[IllegalArgumentException] { graft.datapipe.GraphOps.soft404(rows, thinWords = 0) }
  }

  test("mojibake: marker counting, ppm floor, >= threshold edge, empty-doc NULL, stray-marker tolerance") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      (1L, "clean text here"),                  // no markers
      (2L, "cafÃ©"),                            // 5 chars, 1 hit -> 200000 ppm
      (3L, "itâ€™s fine"),                      // 11 chars, 1 â€ hit
      (4L, "Ã" + "a" * 999),                    // 1 hit in 1000 chars = 1000 ppm < 5000: NOT damaged
      (5L, ""),                                 // empty: NULL ppm, damaged false
      (6L, "ï¿½ï¿½"),                           // 6 chars, 2 hits
      (7L, "ÃÃÃ"),                             // adjacent markers all count
      (8L, "Ã" + "a" * 199))                    // exactly 5000 ppm -> damaged (>=)
      .toDF("doc_id", "text")
    val out = TrainingOps.mojibakeScore(rows).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((15L, 0L, 0L, false)))
    assert(out(2L) == ((5L, 1L, 200000L, true)))
    assert(out(3L) == ((11L, 1L, 90909L, true)))
    assert(out(4L) == ((1000L, 1L, 1000L, false)))
    assert(out(5L) == ((0L, 0L, -1L, false)))
    assert(out(6L) == ((6L, 2L, 333333L, true)))
    assert(out(7L) == ((3L, 3L, 1000000L, true)))
    assert(out(8L) == ((200L, 1L, 5000L, true)))
    intercept[IllegalArgumentException] { TrainingOps.mojibakeScore(rows, damagedPpm = 0) }
  }

  test("span corruption: sentinel numbering, run merge, reconstruction, rate, empty doc") {
    val sp = spark; import sp.implicits._
    val sent = "<extra_id_(\\d+)>".r
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = TrainingOps.spanCorruption(docs).collect()
    assert(out.length == texts.size)
    var totWords = 0L; var totMasked = 0L
    out.foreach { r =>
      val id = r.getLong(0)
      val (n, nm, ns) = (r.getInt(1), r.getInt(2), r.getInt(3))
      val inputs = r.getString(4)
      val targets = if (r.isNullAt(5)) null else r.getString(5)
      totWords += n; totMasked += nm
      val norm = texts(id).trim.split("[ \t\n\r\f]+").filter(_.nonEmpty)
      assert(n == norm.length, s"doc $id word count")
      if (ns == 0) {
        assert(targets == null && nm == 0, s"doc $id no-span contract")
        assert(inputs == norm.mkString(" "), s"doc $id verbatim passthrough")
      } else {
        assert(targets != null && nm >= ns, s"doc $id span accounting")
        // sentinels appear exactly once each, in order, on both sides
        val inIds = sent.findAllMatchIn(inputs).map(_.group(1).toInt).toList
        assert(inIds == (0 until ns).toList, s"doc $id input sentinels")
        val tgIds = sent.findAllMatchIn(targets).map(_.group(1).toInt).toList
        assert(tgIds == (0 to ns).toList, s"doc $id target sentinels")
        // parse targets into run -> words
        var run = -1
        val runWords = scala.collection.mutable.Map.empty[Int, List[String]]
          .withDefaultValue(Nil)
        targets.split(" ").foreach {
          case s if sent.pattern.matcher(s).matches() =>
            run = sent.findFirstMatchIn(s).get.group(1).toInt
          case word => runWords(run) = runWords(run) :+ word
        }
        assert(runWords.values.map(_.size).sum == nm, s"doc $id masked count")
        assert((0 until ns).forall(runWords(_).nonEmpty), s"doc $id empty run")
        // splicing each run back over its sentinel reproduces the doc
        val rebuilt = inputs.split(" ").toSeq.flatMap {
          case s if sent.pattern.matcher(s).matches() =>
            runWords(sent.findFirstMatchIn(s).get.group(1).toInt)
          case w => Seq(w)
        }
        assert(rebuilt == norm.toSeq, s"doc $id reconstruction")
      }
    }
    // corpus corruption rate ~ 1-(0.95^3) = 14.3% of words
    val frac = totMasked.toDouble / totWords
    assert(frac > 0.10 && frac < 0.19, s"masked fraction $frac")
    // empty / whitespace-only docs: 0 words, '' inputs, NULL targets
    val edge = TrainingOps.spanCorruption(
      Seq((900001L, ""), (900002L, "  \n\t ")).toDF("doc_id", "text")).collect()
    edge.foreach { r =>
      assert(r.getInt(1) == 0 && r.getInt(2) == 0 && r.getInt(3) == 0)
      assert(r.getString(4) == "" && r.isNullAt(5))
    }
    // repartition invariance (hash-deterministic, the reshard contract)
    val a = out.map(_.toString).sorted.toSeq
    val b = TrainingOps.spanCorruption(docs.repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
    intercept[IllegalArgumentException] { TrainingOps.spanCorruption(docs, startPct = 0) }
    intercept[IllegalArgumentException] { TrainingOps.spanCorruption(docs, spanLen = 0) }
  }

  test("policy reconcile: truth table, allow-rescue, hidden-noindex trap, full verdict coverage") {
    val sp = spark
    val out = SparkEntry.queries("e63_policy_reconcile")(sp, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val id = r.getLong(0)
      val (allowed, noindex, v) =
        (r.getBoolean(2), r.getBoolean(3), r.getString(4))
      // p0 is the only blocked path family; p1 is RESCUED by the
      // longer Allow rule despite its Disallow
      assert(allowed == (id % 4 != 0), s"doc $id fetch_allowed")
      assert(noindex == (id % 3 != 2), s"doc $id meta_noindex")
      val exp =
        if (!allowed && noindex) "blocked_hidden_noindex"
        else if (!allowed) "blocked"
        else if (noindex) "crawl_noindex" else "indexable"
      assert(v == exp, s"doc $id verdict")
    }
    // the corpus at 50 docs already exercises all four verdicts
    assert(out.map(_.getString(4)).toSet == Set("blocked_hidden_noindex",
      "blocked", "crawl_noindex", "indexable"))
  }

  test("entity residue: three syntaxes, decoy ampersands, char accounting, null ppm") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      (1L, "clean prose with no escapes at all"),
      (2L, "a &amp; b &quot;c&quot;"),          // 3 named, 17 entity chars
      (3L, "dash &#8211; quote &#x27; end"),    // 1 decimal + 1 hex
      (4L, "AT&T snack&shop &broken & alone"),  // decoys only: no terminator
      (5L, "&lt;&gt;"),                          // adjacent entities both count
      (6L, ""))
    val out = TrainingOps.entityResidue(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6), r.getBoolean(7)))).toMap
    assert(out(1L)._2 == 0 && out(1L)._7 == false && out(1L)._5 == 0L)
    assert(out(2L)._2 == 3 && out(2L)._5 == 17L && out(2L)._7 == true)
    assert(out(3L)._3 == 1 && out(3L)._4 == 1 && out(3L)._5 == 13L)
    // bare & and semicolon-less names are prose, not residue
    assert(out(4L) == ((31L, 0, 0, 0, 0L, 0L, false)))
    assert(out(5L) == ((8L, 2, 0, 0, 8L, 1000000L, true)))
    assert(out(6L) == ((0L, 0, 0, 0, 0L, -1L, false)))
  }

  test("param profile: kv parse, valueless flag, tracking precedence, cardinality ladder") {
    val sp = spark; import sp.implicits._
    val urls = Seq(
      "https://a.com/x?color=red&size=s",
      "https://a.com/x?color=blue&size=s",
      "https://a.com/x?color=green&size=s",
      "https://a.com/p?sid=1", "https://a.com/p?sid=2", "https://a.com/p?sid=3",
      "https://a.com/q?flag",          // valueless: '' value, not NULL
      "https://a.com/q?flag",
      "https://b.com/y?utm_source=mail", // name-based even with 1 value
      "https://a.com/plain")           // no query: contributes nothing
    val out = graft.datapipe.GraphOps.paramProfile(urls.toDF("url")).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out.keySet == Set(("a.com", "color"), ("a.com", "size"),
      ("a.com", "sid"), ("a.com", "flag"), ("b.com", "utm_source")))
    assert(out(("a.com", "color")) == ((3L, 3L, "facet")))
    assert(out(("a.com", "size")) == ((3L, 1L, "constant")))
    // sid: 3 distinct values but tracking wins over cardinality
    assert(out(("a.com", "sid")) == ((3L, 3L, "tracking")))
    assert(out(("a.com", "flag")) == ((2L, 1L, "constant")))
    assert(out(("b.com", "utm_source")) == ((1L, 1L, "tracking")))
    // 16-value param crosses into facet_trap
    val trap = graft.datapipe.GraphOps.paramProfile(
      (0 until 16).map(i => s"https://c.com/l?f=$i").toDF("url")).collect()
    assert(trap.length == 1 && trap(0).getString(4) == "facet_trap")
  }

  test("ivf margins: agrees with the live assignment, bounds, verdicts, determinism") {
    val sp = spark
    val out = TrainingOps.ivfMargins(embs, nCells = 16).collect()
    assert(out.length == embs.count())
    // the audit's cell MUST equal d9's assignment vector-for-vector:
    // sorting the same (dist, cell) pairs whose min is the assignment
    val viaBalance = TrainingOps.ivfBalance(embs, nCells = 16)
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val marginCells = out.groupBy(_.getInt(1)).map { case (c, rs) => c -> rs.length.toLong }
    marginCells.foreach { case (c, n) =>
      assert(viaBalance(c) == n, s"cell $c population disagrees with ivfBalance") }
    out.foreach { r =>
      assert(!r.isNullAt(2), "distinct centroids: no degenerate rows expected")
      val m = r.getLong(2)
      assert(m >= 0 && m <= 1000000L, s"vec ${r.getLong(0)} margin out of range")
      val exp = if (m < 250000) "core" else if (m >= 750000) "boundary" else "interior"
      assert(r.getString(3) == exp)
    }
    val b = TrainingOps.ivfMargins(embs.repartition(5), nCells = 16)
      .collect().map(_.toString).sorted.toSeq
    assert(out.map(_.toString).sorted.toSeq == b)
    intercept[IllegalArgumentException] { TrainingOps.ivfMargins(embs, nCells = 1) }
  }

  test("extract yield: ratio arithmetic, verdict ladder, one row per url, kernel-vs-payload sanity") {
    val sp = spark
    val out = SparkEntry.queries("e61_extract_yield")(sp, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.map(_.getString(0)).distinct.length == out.length, "one row per url")
    out.foreach { r =>
      val (tb, pb, yp, v) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(pb > 0 && tb >= 0 && tb < pb, s"${r.getString(0)} byte sanity")
      assert(yp == 1000000L * tb / pb, s"${r.getString(0)} ppm arithmetic")
      val exp = if (yp < 100000) "template_heavy"
        else if (yp >= 500000) "content_dense" else "normal"
      assert(v == exp, s"${r.getString(0)} verdict")
      // family-A template is ~1.5 KB of fixed chrome: a page can never
      // be 100% content
      assert(yp < 1000000L)
    }
  }

  test("casing profile: allcaps gate, single-letter exemption, null ppm, shouting flag") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      (1L, "THIS IS ALL CAPS TEXT"),            // 5 words, all >= 2 letters caps
      (2L, "normal lower case words here"),
      (3L, "I bought A thing"),                  // 'I'/'A' capitalized but NOT allcaps
      (4L, "MIXED Case SHOUT low caps HERE ok"), // partial caps
      (5L, "12345 678"),                         // no letters: NULL ppm, not shouting
      (6L, ""),
      (7L, "SHORT YELL"))                        // 100% caps but only 2 words
    val out = TrainingOps.casingProfile(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3),
        r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6), r.getBoolean(7)))).toMap
    assert(out(1L) == ((5, 5, 5, 17L, 17L, 1000000L, true)))
    assert(out(2L)._7 == false && out(2L)._2 == 0 && out(2L)._6 == 0L)
    // single capital letters are capitalized words, never ALL-CAPS words
    assert(out(3L)._2 == 0 && out(3L)._3 == 2)
    assert(out(4L)._2 == 3 && out(4L)._7 == true) // MIXED SHOUT HERE; 15/27 caps
    assert(out(5L) == ((2, 0, 0, 0L, 0L, -1L, false)))
    assert(out(6L) == ((0, 0, 0, 0L, 0L, -1L, false)))
    // shouting needs volume: 2 words of pure caps stay unflagged
    assert(out(7L)._6 == 1000000L && out(7L)._7 == false)
  }

  test("ivf balance: spine completeness, conservation, verdict consistency, determinism") {
    val sp = spark
    val out = TrainingOps.ivfBalance(embs, nCells = 16).collect()
    assert(out.length == 16, "dense spine: every cell appears")
    assert(out.map(_.getInt(0)).toSet == (0 until 16).toSet)
    val nVecs = embs.count()
    assert(out.map(_.getLong(1)).sum == nVecs, "vector conservation")
    val tot = nVecs
    out.foreach { r =>
      val (nv, load, xi, v) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4))
      assert(load == 1000000L * nv / tot, s"cell ${r.getInt(0)} load_ppm")
      assert(xi == 1000000L * nv * 16 / tot, s"cell ${r.getInt(0)} x_ideal_ppm")
      val exp = if (nv == 0) "empty" else if (xi >= 2000000) "hot"
        else if (xi <= 500000) "cold" else "balanced"
      assert(v == exp, s"cell ${r.getInt(0)} verdict")
    }
    // assignment (and therefore the audit) is partitioning-invariant
    val b = TrainingOps.ivfBalance(embs.repartition(7), nCells = 16)
      .collect().map(_.toString).sorted.toSeq
    assert(out.map(_.toString).sorted.toSeq == b)
    intercept[IllegalArgumentException] { TrainingOps.ivfBalance(embs, nCells = 0) }
  }

  test("reciprocity: pair dedup, self-loop drop, one-way zero, corpus ppm bounds") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      ("a", "b"), ("a", "b"), // duplicate edge: reciprocity is per PAIR
      ("b", "a"),             // closes the a<->b exchange
      ("a", "c"),             // one-way
      ("c", "b"),             // one-way (b never links c)
      ("d", "d"))             // self-loop: discarded, d vanishes
    val out = graft.datapipe.GraphOps.reciprocity(edges.toDF("src", "dst"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set("a", "b", "c"))
    assert(out("a") == ((2L, 1L, 500000L)))
    assert(out("b") == ((1L, 1L, 1000000L)))
    assert(out("c") == ((1L, 0L, 0L)))
    // corpus: every ppm in [0, 1e6], reciprocal <= out
    val corp = SparkEntry.queries("e60_reciprocity")(sp, sfDir).collect()
    assert(corp.nonEmpty)
    corp.foreach { r =>
      assert(r.getLong(2) <= r.getLong(1))
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
    }
  }

  test("lang agreement: reconciles with t1, weak-signal gate, verdict rules") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      (1L, "the cat and the dog is in the house", "en"), // en hits, declared en
      (2L, "the cat and the dog is in the house", "de"), // en hits, declared de
      (3L, "zz qq ww ee rr tt", "en"),                   // zero stopwords anywhere
      (4L, "der hund und die katze ist ein tier", "de"))
    val out = TrainingOps.langAgreement(rows.toDF("doc_id", "text", "lang"))
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getString(2), r.getInt(3), r.getString(4)))).toMap
    assert(out(1L)._2 == "en" && out(1L)._4 == "agree")
    assert(out(2L) == (("de", "en", out(2L)._3, "mismatch")))
    // zero stopword hits: argmax over zeros is a coin flip, NOT a
    // mismatch — even though declared 'en' equals the tie-broken argmax
    assert(out(3L) == (("en", "en", 0, "weak_signal")))
    assert(out(4L)._2 == "de" && out(4L)._4 == "agree")
    // corpus: prediction column must equal t1's row-for-row
    val t1 = SparkEntry.queries("t1_lang_id")(sp, sfDir).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val corp = SparkEntry.queries("t55_lang_agreement")(sp, sfDir).collect()
    assert(corp.nonEmpty && corp.length == t1.size)
    corp.foreach(r => assert(r.getString(2) == t1(r.getLong(0)),
      s"doc ${r.getLong(0)} disagrees with t1"))
  }

  test("host scorecard: agrees with rank and reciprocity, verdict precedence, leaf NULLs") {
    val sp = spark
    val out = SparkEntry.queries("e65_host_scorecard")(sp, sfDir).collect()
    assert(out.nonEmpty)
    val ranks = SparkEntry.queries("e23_host_rank")(sp, sfDir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val rec = SparkEntry.queries("e60_reciprocity")(sp, sfDir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val n = out.length
    out.foreach { r =>
      val host = r.getString(0)
      assert(r.getLong(1) == ranks(host), s"$host rank disagrees with e23")
      rec.get(host) match {
        case Some((no, nr, ppm)) =>
          assert((r.getLong(2), r.getLong(3), r.getLong(4)) == ((no, nr, ppm)),
            s"$host reciprocity disagrees with e60")
        case None =>
          assert(r.isNullAt(2) && r.isNullAt(3) && r.isNullAt(4),
            s"$host leaf must carry NULLs, not zeros")
      }
      val exp =
        if (!r.isNullAt(4) && r.getLong(4) >= 500000 && r.getLong(2) >= 2) "ring_suspect"
        else if (r.getLong(1) >= 2L * (1000000000000L / n)) "authority"
        else if (r.isNullAt(2)) "leaf" else "normal"
      assert(r.getString(5) == exp, s"$host verdict")
    }
    assert(out.map(_.getString(5)).toSet.subsetOf(
      Set("ring_suspect", "authority", "leaf", "normal")))
  }

  test("lsh planner: grid shape, fold arithmetic, monotone laws, degenerate configs") {
    val sp = spark
    val out = TrainingOps.lshPlanner(sp).collect()
      .map(r => (r.getInt(0), r.getInt(2)) -> ((r.getInt(1), r.getLong(3)))).toMap
    assert(out.size == 8 * 19) // divisors of 24 x the 5..95 grid
    // independent Scala rederivation with the same left-fold order
    def expect(r: Int, b: Int, j: Int): Long = {
      var jr = 1.0d; (1 to r).foreach(_ => jr *= j / 100.0d)
      var qb = 1.0d; (1 to b).foreach(_ => qb *= (1 - jr))
      math.floor(1000000 * (1 - qb)).toLong
    }
    out.foreach { case ((r, j), (b, p)) =>
      assert(b == 24 / r)
      assert(p == expect(r, b, j), s"config r=$r j=$j")
    }
    // laws: p monotone nondecreasing in J per config; the r=1 (pure OR)
    // config dominates every other at every J; r=24 is the pure AND
    for (r <- Seq(1, 2, 3, 4, 6, 8, 12, 24); j <- 10 to 95 by 5)
      assert(out((r, j))._2 >= out((r, j - 5))._2, s"monotone r=$r j=$j")
    for (r <- Seq(2, 3, 4, 6, 8, 12, 24); j <- 5 to 95 by 5)
      assert(out((1, j))._2 >= out((r, j))._2, s"OR dominance r=$r j=$j")
    intercept[IllegalArgumentException] { TrainingOps.lshPlanner(sp, sigBudget = 0) }
  }

  test("burstiness: exact moments, verdict ladder, single sentence, empty doc") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      (1L, "a b c. a b c. a b c."),        // 3x3 words: VMR exactly 0
      (2L, "a. a b c d e f g h i j k!"),   // lengths 1, 11
      (3L, "one two three four five"),     // no terminator: ONE sentence
      (4L, "  \t "),                       // whitespace only
      (5L, "x? y y y. z z!"))              // 1, 3, 2
    val out = TrainingOps.sentenceBurstiness(rows.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((
        if (r.isNullAt(1)) -1L else r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1L else r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4),
        r.getString(5)))).toMap
    assert(out(1L) == ((3L, 9L, 3000L, 0L, "uniform")))
    // n=2, W=12, Q=122: vmr = 1000*(244-144)/(2*12) = 4166 -> normal
    assert(out(2L) == ((2L, 12L, 6000L, 4166L, "normal")))
    // a single sentence has zero variance by definition
    assert(out(3L) == ((1L, 5L, 5000L, 0L, "uniform")))
    assert(out(4L) == ((-1L, -1L, -1L, -1L, "empty")))
    // n=3, W=6, Q=14: vmr = 1000*(42-36)/(3*6) = 333 -> uniform
    assert(out(5L) == ((3L, 6L, 2000L, 333L, "uniform")))
  }

  test("bbit minhash: collision floor correction, exact-dup saturation, laws vs d22") {
    val sp = spark
    val out = SparkEntry.queries("d35_bbit_minhash")(sp, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (nc, raw, est) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nc >= 0 && nc <= 12)
      assert(raw == 1000000L * nc / 12)
      // correction law: clamp at 0, saturate at 1e6 when all 12 collide
      val exp = math.max(0L, (raw - 62500L) * 16 / 15)
      assert(est == exp, s"pair ${r.getLong(0)}-${r.getLong(1)} correction")
      if (nc == 12) assert(est == 1000000L)
    }
    // b-bit collisions are a SUPERSET of full-width matches: the b-bit
    // raw rate can never be below d22's full-signature estimate
    val d22 = SparkEntry.queries("d22_minhash_calibration")(sp, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    out.foreach { r =>
      val full = d22((r.getLong(0), r.getLong(1)))
      assert(r.getLong(3) >= full,
        s"pair ${r.getLong(0)}-${r.getLong(1)}: b-bit raw below full-width")
    }
  }

  test("backfill layers: diamond max-path, cycle block, blast radius, horizon, roots") {
    val sp = spark; import sp.implicits._
    def run(nodes: Seq[String], deps: Seq[(String, String)], rounds: Int = 8) =
      TrainingOps.backfillLayers(nodes.toDF("tbl"), deps.toDF("src", "dst"), rounds)
        .collect().map(r => r.getString(0) ->
          ((if (r.isNullAt(1)) -1L else r.getLong(1)), r.getString(2))).toMap
    // diamond: d waits for BOTH arms; layer = 1 + MAX, not min-hop
    val dia = run(Seq("a", "b", "c", "d", "iso"),
      Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"), ("b", "c")))
    assert(dia("a") == ((0L, "ready")) && dia("iso") == ((0L, "ready")))
    assert(dia("b") == ((1L, "ready")))
    assert(dia("c") == ((2L, "ready"))) // c waits for b too
    assert(dia("d") == ((3L, "ready"))) // 1 + max(1, 2)
    // cycle: neither member can start; their consumer is blast radius
    val cyc = run(Seq("x", "y", "z", "w"),
      Seq(("x", "y"), ("y", "x"), ("y", "z"), ("w", "z")))
    assert(cyc("x") == ((-1L, "blocked")) && cyc("y") == ((-1L, "blocked")))
    assert(cyc("z") == ((-1L, "blocked"))) // one placed upstream is not all
    assert(cyc("w") == ((0L, "ready")))
    // horizon: a 5-chain with 3 rounds places layers 0..3 only
    val chain = run(Seq("c0", "c1", "c2", "c3", "c4"),
      (0 until 4).map(i => (s"c$i", s"c${i + 1}")), rounds = 3)
    assert(chain("c3") == ((3L, "ready")) && chain("c4") == ((-1L, "blocked")))
    intercept[IllegalArgumentException] {
      TrainingOps.backfillLayers(Seq("a").toDF("tbl"),
        Seq(("a", "a")).toDF("src", "dst"), maxRounds = 0) }
  }

  test("partition evolution: move/rewrite split, boundary day, whole-byte attribution, error families") {
    val sp = spark; import sp.implicits._
    val day = 86400L
    val rows = Seq(
      (1L, 100L, 10 * day, 10 * day + 100),       // fits day 10: move
      (2L, 50L, 10 * day + 86000, 10 * day + 87000), // crosses into day 11: rewrite
      (3L, 30L, 10 * day, 11 * day),              // ends exactly ON the boundary: day 11 too
      (4L, 70L, 1000000L, 999000L),               // inverted range: invalid
      (5L, 40L, 0L, 5000 * day))                  // 5001-day fan-out > 4096: overspan
    val out = TrainingOps.partitionEvolutionPlan(
      rows.toDF("shard_id", "bytes", "min_ts", "max_ts")).collect()
      .map(r => (if (r.isNullAt(0)) -1L else r.getLong(0)) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getLong(5), r.getLong(6)))).toMap
    assert(out.keySet == Set(10L, 11L, -1L))
    // day 10: the mover plus both straddlers (whole bytes each)
    assert(out(10L) == ((1L, 100L, 2L, 80L, 0L, 0L)))
    // day 11: straddlers only — file 3's exact-boundary end lands here
    assert(out(11L) == ((0L, 0L, 2L, 80L, 0L, 0L)))
    // error families collect in the NULL-partition row, never throw
    assert(out(-1L) == ((0L, 0L, 0L, 0L, 1L, 1L)))
    intercept[IllegalArgumentException] {
      TrainingOps.partitionEvolutionPlan(rows.toDF("shard_id", "bytes", "min_ts", "max_ts"), partSeconds = 0) }
    intercept[IllegalArgumentException] {
      TrainingOps.partitionEvolutionPlan(rows.toDF("shard_id", "bytes", "min_ts", "max_ts"), maxFanOut = 0) }
  }

  test("mirror clusters: cross vs intra host, keeper/canonical mins, singleton drop") {
    val sp = spark; import sp.implicits._
    val rows = Seq(
      (5L, "b.example", "shared text one"),
      (1L, "a.example", "shared text one"),
      (3L, "c.example", "solo text"), // singleton: not a mirror, dropped
      (11L, "d.example", "intra text"),
      (10L, "d.example", "intra text"), // same host twice: CMS aliasing
      (7L, "a.example", "shared text one"))
    val out = TrainingOps.mirrorClusters(rows.toDF("doc_id", "host", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3), r.getString(4)))).toMap
    assert(out.keySet == Set(1L, 10L))
    // three copies on two hosts: keeper and canonical_host are the mins
    assert(out(1L) == ((3L, 2L, "a.example", "cross_host")))
    assert(out(10L) == ((2L, 1L, "d.example", "intra_host")))
    // driver query runs at spec scale (families are mostly singletons at
    // 50 docs — the sf0.01 oracle gate exercises both verdicts)
    val corp = SparkEntry.queries("e59_mirror_clusters")(sp, sfDir).collect()
    assert(corp.map(_.getString(4)).toSet.subsetOf(Set("cross_host", "intra_host")))
    corp.foreach(r => assert(r.getLong(1) >= 2, "singleton leaked"))
  }

  test("containment: doc-in-doc verdict, duplicate verdict, DF cap, dedup pre-pass") {
    val sp = spark; import sp.implicits._
    val wA = (1 to 20).map(i => s"wa$i")
    val a = wA.mkString(" ")                    // 20 words, 18 shingles
    val b = wA.take(8).mkString(" ")            // strict prefix: 6 shingles, all in A
    val wC = (1 to 40).map(i => s"wc$i")
    val c = wC.mkString(" ")                    // 40 words, 38 shingles
    val d = (wC.dropRight(1) :+ "zz").mkString(" ") // last word changed: final shingle differs
    val e = (1 to 10).map(i => s"we$i").mkString(" ")
    // ten docs sharing one boilerplate phrase (DF 10 > cap 8), otherwise unique
    val boiler = (0 until 10).map(k =>
      (100L + k) -> s"bp1 bp2 bp3 u${k}a u${k}b u${k}c u${k}d")
    val rows = Seq(1L -> a, 2L -> b, 3L -> c, 4L -> d, 5L -> e, 6L -> a) ++ boiler
    val out = TrainingOps.containmentVerify(rows.toDF("doc_id", "text")).collect()
    val m = out.map(r => (r.getLong(0), r.getLong(1)) ->
      ((r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getString(5)))).toMap
    // exactly the two engineered pairs: the prefix child and the near-dup;
    // no pair from the boilerplate shingle (capped), none involving the
    // exact clone doc 6 (dedup pre-pass)
    assert(m.keySet == Set((1L, 2L), (3L, 4L)), s"pairs ${m.keySet}")
    // B inside A: contain_b = 1.0, jaccard = 6/18 — the pair symmetric
    // Jaccard would have discarded
    assert(m((1L, 2L)) == ((0.3333, 1.0, 0.3333, "b_in_a")))
    // near-dup: inter 37 of 38, union 39 -> jaccard 0.9487 >= 0.8 -> duplicate
    assert(m((3L, 4L)) == ((0.9737, 0.9737, 0.9487, "duplicate")))
    // corpus-level through the driver query (containAug children):
    // every child pair must verify as containment, not duplicate
    val corp = SparkEntry.queries("d32_containment")(sp, sfDir).collect()
    val kids = corp.filter(r => r.getLong(1) >= 1000000000L)
    assert(kids.nonEmpty, "no child pairs from containAug")
    kids.foreach { r =>
      assert(r.getString(5) == "b_in_a" && r.getDouble(3) == 1.0,
        s"child pair ${r.getLong(0)}-${r.getLong(1)} not fully contained") }
    intercept[IllegalArgumentException] {
      TrainingOps.containmentVerify(docs, maxDf = 1) }
    intercept[IllegalArgumentException] {
      TrainingOps.containmentVerify(docs, minContain = 0.0) }
  }

  test("mlm mask: 80/10/10 split, local random draw, keep trap, rate, empty doc") {
    val sp = spark; import sp.implicits._
    def h60(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes("UTF-8")).map("%02x".format(_))
        .mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = TrainingOps.mlmMask(docs).collect()
    assert(out.length == texts.size)
    var totWords = 0L; var totSel = 0L; var totMask = 0L
    var totRand = 0L; var totKeep = 0L
    out.foreach { r =>
      val id = r.getLong(0)
      val (n, nsel, nmask, nrand, nkeep) =
        (r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4), r.getInt(5))
      val mt = r.getString(6)
      val labels = if (r.isNullAt(7)) null else r.getString(7)
      totWords += n; totSel += nsel; totMask += nmask
      totRand += nrand; totKeep += nkeep
      assert(nsel == nmask + nrand + nkeep, s"doc $id action conservation")
      // independent Scala rederivation of the full transform
      val w = texts(id).split("[ \t\n\r\f]+").filter(_.nonEmpty)
      assert(n == w.length, s"doc $id word count")
      val expMt = new StringBuilder; val expLb = Seq.newBuilder[String]
      w.indices.foreach { i =>
        val sel = h60(s"mlm:$id:$i") % 100 < 15
        if (expMt.nonEmpty) expMt += ' '
        if (!sel) expMt ++= w(i)
        else {
          expLb += w(i)
          val act = h60(s"mlma:$id:$i") % 10
          if (act < 8) expMt ++= "[MASK]"
          else if (act == 8) expMt ++= w((h60(s"mlmr:$id:$i") % n).toInt)
          else expMt ++= w(i) // the keep trap: verbatim word, still a label
        }
      }
      assert(mt == expMt.toString, s"doc $id masked_text")
      val lb = expLb.result()
      if (lb.isEmpty) assert(labels == null, s"doc $id NULL-not-empty labels")
      else assert(labels == lb.mkString(" "), s"doc $id labels")
    }
    // corpus rates: selection ~15%, actions ~80/10/10 of selected
    val selFrac = totSel.toDouble / totWords
    assert(selFrac > 0.11 && selFrac < 0.19, s"selection fraction $selFrac")
    assert(totMask.toDouble / totSel > 0.7, s"mask share ${totMask.toDouble / totSel}")
    assert(totRand > 0 && totKeep > 0, "both rare actions exercised")
    // empty / whitespace-only docs: 0 words, '' text, NULL labels
    val edge = TrainingOps.mlmMask(
      Seq((910001L, ""), (910002L, "  \n\t ")).toDF("doc_id", "text")).collect()
    edge.foreach { r =>
      assert(r.getInt(1) == 0 && r.getInt(2) == 0)
      assert(r.getString(6) == "" && r.isNullAt(7))
    }
    // repartition invariance (hash-deterministic, the reshard contract)
    val a = out.map(_.toString).sorted.toSeq
    val b = TrainingOps.mlmMask(docs.repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
    intercept[IllegalArgumentException] { TrainingOps.mlmMask(docs, maskPct = 0) }
    intercept[IllegalArgumentException] { TrainingOps.mlmMask(docs, maskPct = 51) }
  }

  test("fim transform: psm/spm reconstruction, split bounds, rate, none passthrough") {
    val sp = spark; import sp.implicits._
    val texts = docs.select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val out = TrainingOps.fimTransform(docs).collect()
    assert(out.length == texts.size)
    var applied = 0; var eligible = 0; var spmN = 0
    out.foreach { r =>
      val id = r.getLong(0)
      val n = r.getInt(1)
      val mode = r.getString(2)
      val norm = texts(id).trim.split("[ \t\n\r\f]+").filter(_.nonEmpty).toSeq
      assert(n == norm.length, s"doc $id word count")
      if (n >= 3) eligible += 1
      if (mode == "none") {
        assert(r.isNullAt(3) && r.isNullAt(4), s"doc $id none-mode NULLs")
        assert(r.getString(5) == norm.mkString(" "), s"doc $id passthrough")
      } else {
        applied += 1
        if (mode == "spm") spmN += 1 else assert(mode == "psm")
        val (ms, ml) = (r.getInt(3), r.getInt(4))
        assert(ms >= 0 && ms < n && ml >= 1 && ml <= 16 && ms + ml <= n,
          s"doc $id split bounds ms=$ms ml=$ml n=$n")
        val toks = r.getString(5).split(" ").toSeq
        val iP = toks.indexOf("<fim_prefix>")
        val iS = toks.indexOf("<fim_suffix>")
        val iM = toks.indexOf("<fim_middle>")
        assert(iP >= 0 && iS >= 0 && iM >= 0 && iM > iP && iM > iS)
        val (pre, suf) =
          if (mode == "psm") (toks.slice(iP + 1, iS), toks.slice(iS + 1, iM))
          else (toks.slice(iP + 1, iM), toks.slice(iS + 1, iP))
        val mid = toks.drop(iM + 1)
        assert(mid.size == ml && pre.size == ms, s"doc $id segment sizes")
        assert(pre ++ mid ++ suf == norm, s"doc $id reconstruction")
      }
    }
    // ~50% of eligible docs transformed; psm/spm split ~50/50 of those
    assert(applied > eligible * 2 / 5 && applied < eligible * 3 / 5,
      s"FIM rate $applied/$eligible")
    assert(spmN > applied / 3 && spmN < applied * 2 / 3, s"spm share $spmN/$applied")
    // tiny docs (n < 3) are never transformed
    val tiny = TrainingOps.fimTransform(
      Seq((1L, "one two"), (2L, ""), (3L, "a b c")).toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(tiny(1L) == "none" && tiny(2L) == "none")
    // repartition invariance
    val a = out.map(_.toString).sorted.toSeq
    val b = TrainingOps.fimTransform(docs.repartition(7))
      .collect().map(_.toString).sorted.toSeq
    assert(a == b)
    intercept[IllegalArgumentException] { TrainingOps.fimTransform(docs, applyPct = 101) }
    intercept[IllegalArgumentException] { TrainingOps.fimTransform(docs, maxMiddle = 0) }
  }

  test("minhash calibration: candidates have >=3 matching components; est quantized to twelfths") {
    val rows = TrainingOps.minhashCalibration(docs).collect()
    assert(rows.nonEmpty, "no LSH candidates on the corpus")
    val twelfths = (0 to 12).map(k => 1000000L * k / 12).toSet
    rows.foreach { r =>
      val est = r.getLong(2); val jac = r.getLong(3); val err = r.getLong(4)
      // a banded candidate shares one whole band = 3 specific components
      assert(est >= 250000L, s"candidate with est $est < 3/12")
      assert(twelfths.contains(est), s"est $est is not a twelfth")
      assert(jac > 0L && jac <= 1000000L)
      assert(err == math.abs(est - jac))
    }
  }

  test("simhash pairs: block join finds Hamming<=3 pairs, exact dups collapse, partitioning-invariant") {
    val sp = spark; import sp.implicits._
    // the d20 aug construction: 200-word shared base (40 x5) + one
    // variant token from the offline-searched triple at pairwise
    // Hamming [3, 3, 2]; 12 docs -> 4 exact copies per variant
    val base = (0 until 40).flatMap(i => Seq.fill(5)(s"sb$i")).mkString(" ")
    val fam = (0 until 12).map { i =>
      (i.toLong, s"$base ${Seq("nv0", "nv5", "nv15")(i % 3)}")
    }
    val far = Seq(
      (100L, "totally different words about cabbages and kings today"),
      (101L, "another unrelated document mentioning ships and sealing wax"))
    val df = (fam ++ far).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TrainingOps.simhashPairs(d).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
        .sortBy(p => (p._1, p._2)).toSeq
    val pairs = run(df)
    // exact-dup collapse: 12 family docs -> 3 distinct signatures with
    // min-doc_id reps 0/1/2; search finds all three pairs, never members
    assert(pairs == Seq((0L, 1L, 3), (0L, 2L, 3), (1L, 2L, 2)), s"got $pairs")
    assert(run(df.repartition(7)) == pairs, "pairs must not depend on partitioning")
    // skew armor: a pure exact-dup swarm collapses to ONE signature row
    // -> zero pairs (expansion back to members is d1's job)
    val swarm = (0 until 50).map(i => (i.toLong, "same text every time")).toDF("doc_id", "text")
    assert(TrainingOps.simhashPairs(swarm).count() == 0)
  }

  test("ann cosine top-k: k rows per probe, scores descending, self excluded") {
    val rows = TrainingOps.annCosineTopK(embs).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    byProbe.foreach { case (q, rs) =>
      assert(rs.length == 5, s"probe $q has ${rs.length} rows")
      val scores = rs.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b })
      assert(!rs.exists(_.getLong(2) == q))
    }
  }

  test("scalable top-k (probe chunks + partition heaps + merge) == brute-force baseline") {
    implicit val sp: SparkSession = spark
    val base = TrainingOps.annCosineTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    // result must be invariant to BOTH physical partitioning and probe
    // chunking (each chunk broadcasts only its slice of the probe set)
    Seq(1, 3, 7).foreach { chunks =>
      val scal = TrainingOps.annCosineTopKScalable(embs.repartition(7), probeChunks = chunks)
        .collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
      assert(scal == base, s"probeChunks=$chunks diverged from baseline")
    }
    // chunk predicates partition the probe set: disjoint and complete
    val probeIds = embs.filter(col("vec_id") % 50 === 0).collect().map(_.getLong(0)).toSet
    val chunked = (0 until 3).map { c =>
      embs.filter(col("vec_id") % 50 === 0 &&
          pmod(expr("vec_id div 50"), lit(3)) === c)
        .collect().map(_.getLong(0)).toSet
    }
    assert(chunked.map(_.size).sum == probeIds.size, "chunks overlap or drop probes")
    assert(chunked.reduce(_ ++ _) == probeIds)
  }

  test("ann lsh buckets: deterministic and correlated with cosine neighbors") {
    val b1 = TrainingOps.annLshBuckets(embs).collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    val b2 = TrainingOps.annLshBuckets(embs).collect().map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(b1 == b2)
    // top-1 cosine neighbors should share more bucket bits than random
    // pairs on average (sign-LSH property); verify directionally
    val top1 = TrainingOps.annCosineTopK(embs, 1).collect()
      .map(r => (r.getLong(0), r.getLong(2)))
    val hams = top1.map { case (q, v) => Integer.bitCount(b1(q) ^ b1(v)) }
    assert(hams.sum.toDouble / hams.length < 8.0,
      s"top-1 neighbors average ${hams.sum.toDouble / hams.length} of 16 bits differing — LSH uncorrelated")
  }

  test("IVF top-k: candidates confined to the probe's cell, ranks dense and ordered") {
    val out = TrainingOps.annIvfTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rs) =>
      assert(rs.length <= 5, s"probe $q returned ${rs.length} rows")
      assert(rs.map(_._2).sorted.toSeq == (1 to rs.length), s"probe $q ranks not dense")
      val byRank = rs.sortBy(_._2).map(_._4)
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b }, s"probe $q scores")
      assert(!rs.exists(_._3 == q), s"probe $q includes itself")
    }
    // IVF restricts recall to the cell: every IVF hit also appears in the
    // unrestricted brute-force scoring with the identical score
    val brute = TrainingOps.annCosineTopK(embs, k = Int.MaxValue - 1).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3))).toMap
    out.foreach { case (q, _, v, s) =>
      assert(brute.get((q, v)).contains(s), s"IVF score for ($q,$v) diverges from exact")
    }
  }

  test("dup clusters: partition the corpus, transitive over pairs, keeper = min id") {
    val out = TrainingOps.dupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == docs.count())
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cid, members) =>
      assert(members.map(_._1).min == cid, s"cluster $cid id is not its min doc_id")
      assert(members.forall(_._3 == members.length), s"cluster $cid size column wrong")
      assert(members.count(_._4) == 1 && members.find(_._4).get._1 == cid,
        s"cluster $cid keeper flag wrong")
    }
    // transitivity: every verified near-dup pair landed in one cluster
    val cidOf = out.map(m => m._1 -> m._2).toMap
    TrainingOps.jaccardVerify(docs).collect().foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(cidOf(a) == cidOf(b), s"pair ($a,$b) split across clusters")
    }
    // exact duplicates share a cluster with their representative
    val repOf = docs.collect().map(r => (r.getLong(0), r.getString(1)))
      .groupBy(_._2).values.flatMap { g =>
        val rep = g.map(_._1).min; g.map(d => d._1 -> rep)
      }.toMap
    out.foreach { case (id, cid, _, _) =>
      assert(cidOf(repOf(id)) == cid, s"doc $id not clustered with its exact rep")
    }
    // injecting precomputed pairs must give the identical clustering
    val injected = TrainingOps.dupClusters(docs,
        precomputedPairs = Some(TrainingOps.jaccardVerify(docs)))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(injected.sortBy(_._1).toSeq == out.sortBy(_._1).toSeq,
      "precomputed-pairs path diverged from the standalone path")
  }

  test("dup clusters: a near-dup chain A~B~C plus exact dups collapse to one cluster (synthetic)") {
    val s = spark
    import s.implicits._
    val base = (0 until 30).map(i => s"word$i")
    def shifted(by: Int): String =
      base.drop(by).mkString(" ") + " " + (0 until by).map(i => s"extra$by-$i").mkString(" ")
    val synth = (Seq(
      (1L, base.mkString(" ")),        // A
      (2L, shifted(2)),                // B: heavy shingle overlap with A
      (3L, shifted(4)),                // C: overlaps B (and A) — chain closes
      (4L, base.mkString(" ")),        // exact dup of A
      (9L, "unrelated words entirely different content here now")
    ) ++ (100 until 110).map(i => (i.toLong, (0 until 8).map(j => s"tail$i-$j").mkString(" "))))
      .toDF("doc_id", "text")
    // precondition: LSH+jaccard actually produced chain edges
    val pairSet = TrainingOps.jaccardVerify(synth).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.exists(p => Set(p._1, p._2).subsetOf(Set(1L, 2L, 3L))),
      s"expected near-dup pairs among {1,2,3}, got $pairSet")
    val out = TrainingOps.dupClusters(synth).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    val cidOf = out.map(m => m._1 -> m._2).toMap
    assert(cidOf(1L) == 1L && cidOf(2L) == 1L && cidOf(3L) == 1L && cidOf(4L) == 1L,
      s"chain + exact dup must collapse to cluster 1: $cidOf")
    assert(cidOf(9L) == 9L, "doc 9 must be its own singleton cluster")
    assert(out.find(_._1 == 4L).get._3 == 4L, "cluster {1,2,3,4} size must be 4")
    assert(out.find(_._1 == 9L).get._3 == 1L)
  }

  test("dup clusters: long chain converges to one component via precomputed pairs") {
    val s = spark
    import s.implicits._
    // a 30-node path graph P30 (diameter 29 > default maxIters=20):
    // min-label propagation moves the min one hop per round, so this
    // pins both the precomputedPairs path and the deep-convergence case
    val n = 30
    val docsDf = (0 until n).map(i => (i.toLong + 1, s"chain text $i")).toDF("doc_id", "text")
    val pairsDf = (0 until n - 1).map(i => (i.toLong + 1, i.toLong + 2)).toDF("a", "b")
    val out = TrainingOps.dupClusters(docsDf, precomputedPairs = Some(pairsDf), maxIters = n + 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
    assert(out.forall(_._2 == 1L), s"all $n chain nodes must share cluster 1: ${out.toSeq.sortBy(_._1)}")
    assert(out.forall(_._3 == n.toLong))
    assert(out.count(_._4) == 1 && out.find(_._4).get._1 == 1L, "exactly one keeper, the min id")
  }

  test("cluster reps: argmax-quality keeper beats min-id when the first-crawled copy is dirtier") {
    val s = spark
    import s.implicits._
    // doc 1 (LOWER id) is the ad-stuffed copy of doc 5's clean text:
    // same 30-word core (heavy shingle overlap -> near-dup pair), plus a
    // punctuation-soup tail that tanks its punct_ratio quality factor.
    // min-id keeper rules keep doc 1; the rep rule must keep doc 5.
    val core = (0 until 30).map(i => s"word$i").mkString(" ")
    val synth = Seq(
      (1L, core + " !!!!! ????? ;;;;; ::::: ....."),
      (5L, core),
      (7L, "tie tie tie equal equal equal words words words here here here"),
      (8L, "tie tie tie equal equal equal words words words here here here"),
      (9L, "unrelated words entirely different content here now")
    ).toDF("doc_id", "text")
    // precondition: 1 and 5 really are a verified near-dup pair
    val pairSet = TrainingOps.jaccardVerify(synth).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairSet.contains((1L, 5L)), s"expected pair (1,5), got $pairSet")
    val reps = TrainingOps.clusterRepresentatives(synth).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3), r.getLong(4)))
      .toMap
    // cluster id stays min-id (1) — the LABEL is stable — but the kept
    // document is the clean one (5)
    val (repId, size1, repQ, removed) = reps(1L)
    assert(repId == 5L, s"rep of cluster 1 must be the clean doc 5, got $repId")
    assert(size1 == 2L && removed == 1L)
    // doc 5's quality: 30 words, zero punctuation in [.,;:!?], digits from
    // word suffixes — strictly above doc 1's punct-tanked score
    val q = TrainingOps.qualityScore(synth).collect()
      .map(r => r.getLong(0) -> r.getDouble(7)).toMap
    assert(q(5L) > q(1L), s"precondition: clean copy must score higher (${q(5L)} vs ${q(1L)})")
    assert(repQ == q(5L))
    // exact-dup pair {7,8}: equal quality, tie breaks to min doc_id
    assert(reps(7L)._1 == 7L, "equal-quality tie must break to min doc_id")
    // singleton keeps itself, removes nothing
    assert(reps(9L) == ((9L, 1L, q(9L), 0L)))
  }

  test("cluster reps: one row per cluster, rep is a member with max quality (corpus)") {
    val clusters = TrainingOps.dupClusters(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap // doc -> cluster
    val q = TrainingOps.qualityScore(docs).collect()
      .map(r => r.getLong(0) -> r.getDouble(7)).toMap
    val reps = TrainingOps.clusterRepresentatives(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(reps.length == clusters.values.toSet.size, "exactly one rep row per cluster")
    reps.foreach { case (cid, repId, size) =>
      assert(clusters(repId) == cid, s"rep $repId is not a member of cluster $cid")
      val members = clusters.collect { case (d, c) if c == cid => d }
      assert(members.size == size.toInt)
      val best = members.map(q.getOrElse(_, 0.0)).max
      assert(q.getOrElse(repId, 0.0) == best,
        s"rep $repId of cluster $cid has quality ${q.getOrElse(repId, 0.0)} < max $best")
    }
  }

  test("token shards: two-phase prefix sum equals the sequential cumsum, invariant to bucket width") {
    val byId = docs.select(col("doc_id"), size(split(trim(col("text")), "[ \\t\\n\\r\\f\\x0B]+")).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val want = {
      var a = 0L
      byId.map { case (id, n) => val st = a; a += n; id -> ((n, st, st / 4096L)) }.toMap
    }
    // 0L = the auto-derived width (max(doc_id)-based, numBuckets <= 1e5)
    // — the default a 10^12-doc caller gets; must agree with every
    // explicit width
    for (bw <- Seq(0L, 7L, 64L, 100000L)) {
      val got = TrainingOps.tokenShards(docs, budget = 4096L, bucketWidth = bw).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == want, s"bucketWidth=$bw diverges from the sequential cumsum")
    }
    // shard ids are non-decreasing in doc_id order and start at 0
    val shards = byId.map { case (id, _) => want(id)._3 }
    assert(shards.head == 0L)
    assert(shards.zip(shards.tail).forall { case (x, y) => y >= x })
    // the derived-width path must accept an IntegerType doc_id (the
    // explicit-width path always did — ADVICE r3 parity fix)
    val s = spark; import s.implicits._
    val intDocs = Seq((1, "a b c"), (2, "d e"), (3, "f")).toDF("doc_id", "text")
    val gi = TrainingOps.tokenShards(intDocs, budget = 4L).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._2)
    assert(gi.toSeq == Seq((3L, 0L, 0L), (2L, 3L, 0L), (1L, 5L, 1L)), s"got ${gi.toSeq}")
  }

  test("embedding-cosine near-dup: bucketed candidates, exact scores, threshold monotone") {
    val all = TrainingOps.embCosinePairs(embs, minCos = -1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    all.foreach { case (a, b, c) =>
      assert(a < b, "pair order must be a < b")
      assert(c >= -1.000001 && c <= 1.000001, s"cosine $c out of range")
    }
    // threshold filters candidates monotonically, and candidate generation
    // is deterministic across runs
    val thr = TrainingOps.embCosinePairs(embs, minCos = 0.1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(thr.subsetOf(all.map(t => (t._1, t._2)).toSet))
    val again = TrainingOps.embCosinePairs(embs, minCos = -1.0).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(again.sortBy(t => (t._1, t._2)).sameElements(all.sortBy(t => (t._1, t._2))))
  }

  test("language id: deterministic argmax with fixed tie order") {
    val out = TrainingOps.langId(docs).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(Set("en", "de", "es", "fr", "zh").contains(r.getString(1)))
      assert(r.getInt(2) <= r.getInt(3)) // n_stop <= n_words
    }
  }

  test("quality + token + fingerprint invariants") {
    TrainingOps.qualityScore(docs).collect().foreach { r =>
      val q = r.getDouble(7)
      assert(q >= 0.0 && q <= 1.0, s"quality $q out of range")
    }
    TrainingOps.tokenCounts(docs).collect().foreach { r =>
      assert(r.getInt(1) >= 1 && r.getInt(2) >= 0)
    }
    val fps = TrainingOps.fingerprint(docs).collect()
    assert(fps.nonEmpty)
    // identical docs -> identical fingerprints
    val withText = docs.select(col("doc_id"), col("text"))
    val fpDf = TrainingOps.fingerprint(docs).join(withText, "doc_id")
    val clash = fpDf.as("x").join(fpDf.as("y"),
        col("x.text") === col("y.text") && col("x.doc_id") < col("y.doc_id"))
      .filter(col("x.fp") =!= col("y.fp")).count()
    assert(clash == 0)
  }

  test("frame sampling: lazy row explosion covers the text at the stride") {
    val rows = TrainingOps.frameSample(spark, docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    assert(rows.nonEmpty)
    val lens = docs.select(col("doc_id"), length(col("text"))).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    rows.groupBy(_._1).foreach { case (id, fs) =>
      val n = lens(id)
      assert(fs.length == (n + 511) / 512, s"doc $id frame count")
      assert(fs.map(_._2).sorted.toSeq == fs.indices.toSeq, s"doc $id frame ids")
      fs.foreach { case (_, f, _, chars) =>
        assert(chars == math.min(256, n - f * 512), s"doc $id frame $f length")
      }
    }
  }

  test("paragraph dedup: corpus-first occurrence kept, exact dup keeps nothing") {
    val sp = spark; import sp.implicits._
    val p0 = (0 until 8).map(i => s"shared$i").mkString(" ")
    val p1 = (0 until 8).map(i => s"tail$i").mkString(" ")
    val pU = (0 until 8).map(i => s"unique$i").mkString(" ")
    val synth = Seq(
      (1L, s"$p0 $p1"), // both paragraphs are corpus-first
      (2L, s"$p0 $p1"), // exact dup of 1: keeps nothing
      (3L, s"$p0 $pU")  // shares p0 with doc 1, keeps only pU
    ).toDF("doc_id", "text")
    val out = TrainingOps.paragraphDedup(synth).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((2L, 2L, md5hex(s"$p0 $p1"))))
    assert(out(2L) == ((2L, 0L, md5hex(""))))
    assert(out(3L) == ((2L, 1L, md5hex(pU))))
    // each distinct paragraph content is kept exactly once corpus-wide
    assert(out.values.map(_._2).sum == 3L)
    // result is invariant to physical partitioning (the keep rule is a
    // group min, not a seen-before scan order)
    val rep = TrainingOps.paragraphDedup(synth.repartition(5)).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(rep == out)
    // over the corpus: kept paragraphs never exceed totals, sums consistent
    val corpus = TrainingOps.paragraphDedup(docs).collect()
    assert(corpus.nonEmpty)
    corpus.foreach(r => assert(r.getLong(2) <= r.getLong(1) && r.getLong(1) >= 1))
  }

  test("paragraph dedup: 10k-doc shared-boilerplate hot key resolves correctly") {
    val sp = spark; import sp.implicits._
    // the Common-Crawl case the operator exists for: one cookie-banner
    // paragraph shared by every document — a single hot ph key in the
    // membership join (10k occurrences against its 1-row firsts entry)
    val boiler = (0 until 8).map(i => s"cookiebanner$i").mkString(" ")
    val synth = (0L until 10000L).map(i =>
        (i, s"$boiler " + (0 until 8).map(j => s"own$i-$j").mkString(" ")))
      .toDF("doc_id", "text")
    val t0 = System.nanoTime()
    val out = TrainingOps.paragraphDedup(synth).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val sec = (System.nanoTime() - t0) / 1e9
    assert(out.size == 10000)
    // doc 0 keeps both paragraphs; every other doc keeps only its own tail
    assert(out(0L) == ((2L, 2L)))
    (1L until 10000L).foreach(i => assert(out(i) == ((2L, 1L)), s"doc $i"))
    assert(sec < 60.0, f"hot-key run took $sec%.1f s")
  }

  test("pii stats: pattern counts and routing flag on crafted rows") {
    val sp = spark; import sp.implicits._
    val synth = Seq(
      (1L, "reach john.doe@example.com or 10.0.0.1 call +44-7911-1234"),
      (2L, "no sensitive content just plain words here"),
      (3L, "two mails a@b.co c@d.org and ip 192.168.1.1")
    ).toDF("doc_id", "text")
    val out = TrainingOps.piiStats(synth).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getInt(3), r.getBoolean(4)))).toMap
    assert(out(1L) == ((1, 1, 1, true)))
    assert(out(2L) == ((0, 0, 0, false)))
    assert(out(3L) == ((2, 1, 0, true)))
  }

  test("pii redact: placeholders substituted globally in fixed order") {
    val sp = spark; import sp.implicits._
    val synth = Seq(
      (1L, "mail a@bb.co then 10.0.0.1 and +1-555-1234 end"),
      (2L, "two mails x@y.org z@y.org no more"),
      (3L, "clean text stays clean")
    ).toDF("doc_id", "text")
    val expected = Map(
      1L -> "mail <EMAIL> then <IP> and <PHONE> end",
      2L -> "two mails <EMAIL> <EMAIL> no more",
      3L -> "clean text stays clean")
    val out = TrainingOps.piiRedact(synth).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getInt(2)))).toMap
    expected.foreach { case (id, txt) =>
      assert(out(id) == ((md5hex(txt), txt.length)), s"doc $id redaction mismatch")
    }
    // redacted text carries no residual PII: re-running stats on the
    // expected strings yields zero counts
    val restat = TrainingOps.piiStats(
        expected.toSeq.toDF("doc_id", "text"))
      .collect()
    restat.foreach(r => assert(r.getInt(1) + r.getInt(2) + r.getInt(3) == 0))
  }

  test("repetition stats: degenerate and all-distinct documents") {
    val sp = spark; import sp.implicits._
    val synth = Seq(
      (1L, Seq.fill(10)("w").mkString(" ")),            // one word x10
      (2L, (0 until 12).map(i => s"a$i").mkString(" ")) // all distinct
    ).toDF("doc_id", "text")
    val out = TrainingOps.repetitionStats(synth).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    // 10 identical words: 8 identical 3-grams -> 7/8 dup; the two
    // paragraphs ("w"x8, "w"x2) differ -> no dup paragraph
    assert(out(1L) == ((10, 1.0, 0.875, 0.0)))
    assert(out(2L) == ((12, 0.0833, 0.0, 0.0)))
    // corpus-wide: all fractions in [0,1]
    TrainingOps.repetitionStats(docs).collect().foreach { r =>
      Seq(r.getDouble(2), r.getDouble(3), r.getDouble(4)).foreach(f =>
        assert(f >= 0.0 && f <= 1.0))
    }
  }

  test("binary features stub: md5 and byte length match the payload") {
    val out = TrainingOps.binaryFeatures(spark, docs)
      .join(docs.select(col("doc_id"), col("text")), "doc_id")
      .filter(md5(col("text")) =!= col("content_md5") ||
        length(encode(col("text"), "UTF-8")) =!= col("n_bytes"))
    assert(out.count() == 0)
  }

  test("decontamination flags exactly the docs sharing an n-gram with the eval set") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"), // eval
      (2L, "x alpha beta gamma delta epsilon y"),  // shares ONE 5-gram with eval
      (3L, "one two three four five six seven"),   // clean
      (4L, "tiny doc")                             // < 5 words: clean, still reported
    ).toDF("doc_id", "text")
    val out = TrainingOps.decontaminate(df, col("doc_id") === 1L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap
    assert(out.keySet == Set(2L, 3L, 4L)) // eval docs never appear in the output
    assert(out(2L) == ((1L, true)))
    assert(out(3L) == ((0L, false)))
    assert(out(4L) == ((0L, false)))
  }

  test("stratified sampling: deterministic, per-stratum thresholds, degenerate rates") {
    val a = TrainingOps.stratifiedSample(docs).collect()
    val b = TrainingOps.stratifiedSample(docs).collect().map(_.getLong(0)).sorted
    assert(a.nonEmpty && a.map(_.getLong(0)).sorted.sameElements(b))
    a.foreach { r =>
      val (lang, u, rate) = (r.getString(1), r.getInt(2), r.getInt(3))
      assert(u >= 0 && u < 1000000 && u < rate)
      assert(rate == TrainingOps.DefaultSampleRatesPpm.getOrElse(lang, 50000))
    }
    // rate 1e6 keeps everything; rate 0 keeps nothing
    assert(TrainingOps.stratifiedSample(docs, Map.empty, 1000000).count() == docs.count())
    assert(TrainingOps.stratifiedSample(docs, Map.empty, 0).count() == 0)
  }

  test("source mixing: floor(w) or ceil(w) replicas per doc, dense epoch ids") {
    val byDoc = TrainingOps.sourceMix(docs).collect().groupBy(_.getLong(0))
    assert(byDoc.nonEmpty)
    var sawExtra = false
    byDoc.foreach { case (_, rows) =>
      val wx2 = rows.head.getString(1).stripPrefix("src").toInt % 5 + 2
      val n = rows.length
      assert(n == wx2 / 2 || n == wx2 / 2 + (wx2 % 2), s"bad replica count $n for 2w=$wx2")
      if (n > wx2 / 2) sawExtra = true
      assert(rows.map(_.getInt(2)).sorted.sameElements(0 until n))
    }
    assert(sawExtra, "fractional weights never rolled the extra epoch")
  }

  test("sequence packing: shard-local contiguity and exact sequence spans") {
    val seqLen = 64 // small enough that sf0.001 docs straddle boundaries
    val out = TrainingOps.sequencePack(docs, seqLen = seqLen).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getInt(4), r.getInt(5)))
    out.groupBy(_._2).foreach { case (shard, rows) =>
      var begin = 0L // shard-local stream offset replay
      rows.sortBy(_._1).foreach { case (id, _, tokens, seqId, off, nSeqs) =>
        assert(seqId == begin / seqLen, s"doc $id in shard $shard: seq_id")
        assert(off == (begin % seqLen).toInt, s"doc $id: offset")
        assert(nSeqs == ((begin + tokens - 1) / seqLen - begin / seqLen + 1).toInt,
          s"doc $id: span count")
        begin += tokens
      }
    }
    assert(out.exists(_._6 >= 2), "expected at least one boundary-spanning doc")
  }

  test("as-of join: inclusive ties, carry-forward, unmatched nulls, collision guard") {
    val sp = spark; import sp.implicits._
    val left = Seq( // (id, t, key, v)
      (1L, 10L, "a", 1.0), // before any right row -> null match
      (2L, 20L, "a", 2.0), // exactly at right t=20 -> inclusive match
      (3L, 35L, "a", 3.0), // between 30 and future -> carries t=30
      (4L, 50L, "b", 4.0)  // other key, no right rows at all
    ).toDF("event_id", "ts", "user_id", "value")
    val right = Seq((100L, 20L, "a", -1.0), (101L, 30L, "a", -2.0))
      .toDF("r_id", "r_ts", "user_id", "r_value")
    val out = graft.datapipe.RelationalOps
      .asofJoin(left, right, "user_id", "ts", "r_ts").collect()
      .map(r => r.getLong(0) -> Option(r.get(4)).map(_.asInstanceOf[Long])).toMap
    assert(out == Map(1L -> None, 2L -> Some(100L), 3L -> Some(101L), 4L -> None))
    // colliding right column names fail loudly at plan build
    val bad = right.withColumnRenamed("r_value", "value")
    assertThrows[IllegalArgumentException] {
      graft.datapipe.RelationalOps.asofJoin(left, bad, "user_id", "ts", "r_ts")
    }
  }

  test("range join: half-open bounds, multi-bin intervals, overlap fan-out, collision guard") {
    val sp = spark; import sp.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val left = Seq( // (id, t)
      (1L, ts(5)),   // inside A only
      (2L, ts(10)),  // == A.end (exclusive) and == B.start (inclusive) -> B only
      (3L, ts(95)),  // deep inside B, different bin from B.start at binSeconds=30
      (4L, ts(100)), // == B.end -> no match
      (5L, ts(50))   // inside both B and C -> fan-out to 2 rows
    ).toDF("event_id", "ts")
    val right = Seq(
      ("A", ts(0), ts(10)),   // single-bin interval
      ("B", ts(10), ts(100)), // spans 4 bins at binSeconds=30
      ("C", ts(45), ts(60)),  // overlaps B
      ("D", ts(70), ts(70))   // empty interval, dropped
    ).toDF("win_id", "win_start", "win_end")
    val out = graft.datapipe.RelationalOps
      .rangeJoin(left, right, "ts", "win_start", "win_end", binSeconds = 30)
      .collect().map(r => (r.getLong(0), r.getString(2)))
    assert(out.sorted.toSeq == Seq(
      (1L, "A"), (2L, "B"), (3L, "B"), (5L, "B"), (5L, "C")))
    // colliding column names fail loudly at plan build
    assertThrows[IllegalArgumentException] {
      graft.datapipe.RelationalOps.rangeJoin(
        left, right.withColumnRenamed("win_id", "ts"), "ts", "win_start", "win_end")
    }
  }

  test("sessionization: exact-gap events extend the session, larger gaps close it") {
    val sp = spark; import sp.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val ev = Seq(
      (1L, "u1", ts(0), 100L),
      (2L, "u1", ts(60), 10L),  // exactly 60s after ev1: touching windows MERGE
      (3L, "u1", ts(121), 1L),  // 61s after ev2 -> strictly larger gap -> NEW session
      (4L, "u2", ts(0), 7L)
    ).toDF("event_id", "user_id", "ts", "value_milli")
    val out = graft.datapipe.RelationalOps
      .sessionize(ev, "user_id", "ts", "60 seconds",
        sum(col("value_milli")).as("sv"))
      .collect()
      .map(r => (r.getString(0), r.getTimestamp(1).getTime / 1000,
        r.getTimestamp(2).getTime / 1000, r.getLong(3), r.getLong(4))).toSet
    assert(out == Set(
      ("u1", 0L, 60L, 2L, 110L), ("u1", 121L, 121L, 1L, 1L), ("u2", 0L, 0L, 1L, 7L)))
  }

  test("source cap: hot source capped, ties broken by doc_id, salt-independent") {
    val sp = spark; import sp.implicits._
    // one hot source (40 docs), one small source (2 docs, below the cap);
    // n_chars = doc_id % 7 forces length ties so the doc_id tiebreak matters
    val docs = ((0L until 40L).map(i => (i, "hot", i % 7)) ++
      Seq((100L, "cold", 5L), (101L, "cold", 3L))).toDF("doc_id", "source", "n_chars")
    def run(salt: Int) = graft.datapipe.TrainingOps
      .sourceCap(docs, maxPerSource = 5, salt = salt)
      .collect().map(r => (r.getString(1), r.getLong(0), r.getLong(2), r.getInt(3)))
      .sortBy(x => (x._1, x._4)).toSeq
    val out = run(salt = 8)
    // expected: per source, order by n_chars desc then doc_id asc, top 5.
    // hot n_chars=6 docs are ids 6,13,20,27,34 -> all five slots
    assert(out == Seq(
      ("cold", 100L, 5L, 1), ("cold", 101L, 3L, 2),
      ("hot", 6L, 6L, 1), ("hot", 13L, 6L, 2), ("hot", 20L, 6L, 3),
      ("hot", 27L, 6L, 4), ("hot", 34L, 6L, 5)))
    // the salted pre-stage must not change the result
    assert(run(salt = 1) == out && run(salt = 3) == out)
  }

  test("quality rules: each gate fails on its keyed doc, clean doc keeps") {
    val sp = spark; import sp.implicits._
    // 60 good words (>= 2 stopwords, sane word length); doc_id keys the
    // deterministic decoration: 4 -> all-bullet, 6 -> all-ellipsis,
    // 2 -> digit tail, 9 -> lorem, 3 -> brace, 7 -> too short
    val good = Seq.fill(10)("the quick brown fox jumps of").mkString(" ")
    val docs = Seq(
      (1L, good), (2L, good), (3L, good), (4L, good), (6L, good), (9L, good),
      (7L, "only ten words here the of and to in it"),
    ).toDF("doc_id", "text")
    val out = graft.datapipe.TrainingOps.qualityRules(docs).collect()
      .map(r => r.getLong(0) -> r).toMap
    def keep(id: Long) = out(id).getBoolean(out(id).fieldIndex("keep"))
    assert(keep(1L))
    assert(!keep(2L) && out(2L).getDouble(out(2L).fieldIndex("alpha_ratio")) < 0.8)
    assert(!keep(3L) && out(3L).getBoolean(out(3L).fieldIndex("has_brace")))
    assert(!keep(4L) && out(4L).getDouble(out(4L).fieldIndex("bullet_ratio")) == 1.0)
    assert(!keep(6L) && out(6L).getDouble(out(6L).fieldIndex("ellipsis_ratio")) == 1.0)
    assert(!keep(9L) && out(9L).getBoolean(out(9L).fieldIndex("has_lorem")))
    assert(!keep(7L) && out(7L).getInt(out(7L).fieldIndex("n_words")) < 50)
  }

  test("semdedup: lower-id cell-mate above tau marks dup, keeps rep") {
    val sp = spark; import sp.implicits._
    // single cell (nCells=1) isolates the pairwise rule: 2 duplicates 1
    // (cos=1), 4 nearly duplicates 1 (cos≈0.994), 3 is orthogonal
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f)), (2L, Seq(1.0f, 0.0f)),
      (3L, Seq(0.0f, 1.0f)), (4L, Seq(0.9f, 0.1f)),
    ).toDF("vec_id", "embedding")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.TrainingOps.semDedup(df, tau = 0.4, nCells = 1, dimOpt = Some(2))
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    val out = run(emb)
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true))
    assert(run(emb.repartition(5)) == out)
  }

  test("semdedup: exact-dup mega-cluster bypasses the pairwise stage") {
    val sp = spark; import sp.implicits._
    // 2000 byte-identical vectors (a mirrored shard) + 2 distinct: the
    // pre-pass must reduce the pairwise stage to 3 representatives
    // (1999*2000/2 ≈ 2M pairs otherwise) and mark all non-reps dups
    val emb = ((1L to 2000L).map(i => (i, Seq(1.0f, 0.0f))) ++
      Seq((3000L, Seq(0.0f, 1.0f)), (3001L, Seq(-1.0f, 0.0f)))).toDF("vec_id", "embedding")
    val out = graft.datapipe.TrainingOps.semDedup(emb, tau = 0.4, nCells = 1, dimOpt = Some(2))
      .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
    assert(out.size == 2002)
    assert(!out(1L) && (2L to 2000L).forall(out(_)), "rep keeps, clones drop")
    assert(!out(3000L) && !out(3001L), "distinct non-similar vectors keep")
  }

  test("frequent ngrams: counts, minCount prune, ties, salt-independent") {
    val sp = spark; import sp.implicits._
    // "a b c" x3, "b c d" x2, singletons pruned by minCount=2; tie at
    // cnt=2 between "b c d" and "x y z" breaks lexicographically
    val docs = Seq(
      (1L, "a b c d"), (2L, "a b c"), (3L, "a b c"),
      (4L, "x y z"), (5L, "x y z"), (6L, "b c d e"),
    ).toDF("doc_id", "text")
    def run(k: Int, salt: Int) =
      graft.datapipe.TrainingOps.frequentNgrams(docs, n = 3, topK = k, salt = salt)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2))).toList.sortBy(_._3)
    val out = run(5, 8)
    assert(out == List(("a b c", 3L, 1), ("b c d", 2L, 2), ("x y z", 2L, 3)))
    // topK truncates INSIDE the tie deterministically
    assert(run(2, 8) == out.take(2))
    // the salted pre-stage must not change the result
    assert(run(5, 1) == out && run(5, 3) == out)
  }

  test("host rank: hand-computed integer iterations, dangling node, partitioning-independent") {
    val sp = spark; import sp.implicits._
    // a->{b,c,d}, b->a, c->a (weight 2); d dangling. scale 4000, n=4:
    // r0=1000, base=150. Hand-unrolled floor arithmetic:
    // it1: a=150+850+850=1850, b=c=d=150+850//3=433
    // it2: shares a:1572//3=524 b:368 c:184x2 -> a=886, b=c=d=674
    // it3: shares a:753//3=251 b:572 c:286x2 -> a=1294, b=c=d=401
    val edges = Seq(("a", "b"), ("a", "c"), ("a", "d"), ("b", "a"), ("c", "a"), ("c", "a"))
      .toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.GraphOps.hostRank(df, iters = 3, scale = 4000L)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val out = run(edges)
    assert(out == Map("a" -> 1294L, "b" -> 401L, "c" -> 401L, "d" -> 401L))
    // integer arithmetic makes the result a pure function of the graph,
    // not of physical partitioning
    assert(run(edges.repartition(5)) == out)
  }

  test("hits: hand-computed integer iterations, hub/authority separation, partitioning-independent") {
    val sp = spark; import sp.implicits._
    // h1->{a1,a2}, h2->a1. scale 400, n=4 -> hub0=100 everywhere.
    // Hand-unrolled (d = max(1, sum//scale), v = raw//d):
    // it1: rawA a1=200,a2=100 (d=1); rawH h1=300,h2=200 (d=1)
    // it2: rawA a1=500,a2=300 (d=2 -> 250,150); rawH h1=400,h2=250 (d=1)
    // it3: rawA a1=650,a2=400 (d=2 -> 325,200); rawH h1=525,h2=325 (d=2 -> 262,162)
    val edges = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1")).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.GraphOps.hits(df, iters = 3, scale = 400L)
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val out = run(edges)
    assert(out == Map(
      "h1" -> ((262L, 0L)), "h2" -> ((162L, 0L)),
      "a1" -> ((0L, 325L)), "a2" -> ((0L, 200L))))
    // pure hubs have zero authority and vice versa; order separates
    assert(out("h1")._1 > out("h2")._1 && out("a1")._2 > out("a2")._2)
    // integer arithmetic: a pure function of the graph, not partitioning
    assert(run(edges.repartition(5)) == out)
  }

  test("mixture plan: hand-computed ppm arithmetic, epoch cap binds, deficit surfaces, partitioning-invariant") {
    val sp = spark; import sp.implicits._
    // wu: src1 -> 1%7+1 = 2, src6 -> 6%7+1 = 7, src7 -> 7%7+1 = 1
    // supply: src1 10, src6 4, src7 6 => sum 20, budget 30, total_wu 10
    // targets 6/21/3; epochs 0.6 / capped 2.0 (5.25 uncapped) / 0.5
    // planned 6/8/3; deficit 0/13/0 — the cap's shortfall is VISIBLE
    val docs = Seq(
      (1L, "a b c d", "src1"), (2L, "a b c d e f", "src1"),
      (3L, "x y z w", "src6"),
      (4L, "p q r", "src7"), (5L, "s t u", "src7"),
      (6L, "", "src1") // empty text: excluded from supply
    ).toDF("doc_id", "text", "source")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.TrainingOps.mixturePlan(df).collect()
        .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))).toMap
    val out = run(docs)
    assert(out("src1") == ((2L, 10L, 200000L, 6L, 600000L, 6L, 0L)))
    assert(out("src6") == ((1L, 4L, 700000L, 21L, 2000000L, 8L, 13L)))
    assert(out("src7") == ((2L, 6L, 100000L, 3L, 500000L, 3L, 0L)))
    assert(run(docs.repartition(7)) == out)
  }

  test("redirect resolution: terminal chains, cycles capped, self-loops, hop counts") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), // chain: a resolves in 2, b in 1
      ("x", "y"), ("y", "x"), // 2-cycle: never terminates
      ("s", "s"), // self-loop
      ("p", "q")).toDF("src", "dst")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.GraphOps.resolveRedirects(df, maxHops = 4).collect()
        .map(r => r.getString(0) -> ((r.getString(1), r.getInt(2), r.getString(3))))
        .toMap
    val out = run(edges)
    assert(out("a") == (("c", 2, "ok")))
    assert(out("b") == (("c", 1, "ok")))
    assert(out("p") == (("q", 1, "ok")))
    assert(out("x") == (("x", 4, "capped"))) // back where it started, still redirecting
    assert(out("y") == (("y", 4, "capped")))
    assert(out("s") == (("s", 4, "capped")))
    assert(run(edges.repartition(5)) == out)
  }

  test("registered domain: PSL exception > wildcard > longest match > implicit-star default") {
    val sp = spark; import sp.implicits._
    val cases = Seq(
      "www.bbc.co.uk" -> "bbc.co.uk",    // 2-label suffix beats 'uk'
      "bbc.co.uk" -> "bbc.co.uk",
      "co.uk" -> null,                   // host IS a public suffix
      "foo.github.io" -> "foo.github.io", // private-registry suffix
      "github.io" -> null,
      "x.y.ck" -> "x.y.ck",              // *.ck: y.ck is itself a suffix
      "www.ck" -> "www.ck",              // !www.ck overrides the wildcard
      "ck" -> null,
      "weird.unknown" -> "weird.unknown", // implicit * rule: ps = last label
      "deep.weird.unknown" -> "weird.unknown",
      "intranet" -> null)                // dotless: nothing registrable
    val got = cases.map(_._1).toDF("host")
      .select(col("host"),
        graft.datapipe.GraphOps.registeredDomain(col("host")).as("rd"))
      .collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getString(1)))
      .toMap
    cases.foreach { case (h, want) =>
      assert(got(h) == want, s"$h -> ${got(h)}, want $want")
    }
  }

  test("contamination report: eval-side reach, distinct counts, zero-hit eval rows kept") {
    val sp = spark; import sp.implicits._
    // eval doc 1 has grams {a b c d e, b c d e f}: train doc 3 shares the
    // first, doc 4 shares both -> 2 train docs, 2/2 grams leaked (1e6 ppm)
    val df = Seq(
      (1L, "a b c d e f"), (2L, "z y x w v u"),
      (3L, "pre a b c d e post"), (4L, "a b c d e f tail"),
      (5L, "nothing shared here at all ok")).toDF("doc_id", "text")
    val out = TrainingOps.contaminationReport(df, col("doc_id") <= 2).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out(1L) == ((2, 2L, 2L, 1000000L)))
    assert(out(2L) == ((2, 0L, 0L, 0L)), "a clean eval doc must still get its zero row")
  }

  test("script mix: per-script ppm, dominant precedence on exact tie, BMP counting") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      (1L, "hello world"), // pure latin
      (2L, "汉字文本"), // pure cjk
      (3L, "αβγδ abcd"), // exact 4-4 latin/greek tie -> precedence: latin
      (4L, "abc кирилл"), // mixed: latin 3, cyrillic 6 -> cyrillic
      (5L, "!!! 123 ...")).toDF("doc_id", "text") // no script at all
    val out = TrainingOps.scriptMix(df).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getString(6)))).toMap
    assert(out(1L) == ((11, 1000000L * 10 / 11, "latin")))
    assert(out(2L)._3 == "cjk" && out(2L)._2 == 0L)
    assert(out(3L)._3 == "latin", "equal counts must fall to the precedence order")
    assert(out(4L)._3 == "cyrillic")
    assert(out(5L)._3 == "latin", "all-zero counts fall to the first branch")
  }

  test("ann recall: single-cell IVF equals brute force (recall 1e6); recall bounded in [0, 1e6]") {
    // nCells = 1 makes the IVF probe scan the whole table, so the index
    // must return exactly the brute-force truth — the recall law's edge
    val full = TrainingOps.annRecall(embs, k = 5, nCells = 1).collect()
    assert(full.nonEmpty)
    full.foreach(r => assert(r.getLong(3) == 1000000L,
      s"probe ${r.getLong(0)} recall ${r.getLong(3)} with a full-scan index"))
    val r16 = TrainingOps.annRecall(embs, k = 5, nCells = 16).collect()
    assert(r16.length == full.length, "probe set must not depend on the index")
    r16.foreach { r =>
      assert(r.getInt(2) <= r.getInt(1), "hits cannot exceed truth size")
      assert(r.getLong(3) >= 0L && r.getLong(3) <= 1000000L)
    }
  }

  test("warc+http fused reader: in-place region parse, warc faults halt, http faults are per-record") {
    val sp = spark; import sp.implicits._
    def rec(uri: String, payload: String) =
      s"WARC/1.0\r\nWARC-Target-URI: $uri\r\nContent-Length: ${payload.length}\r\n\r\n$payload\r\n\r\n"
    val okHttp = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<b>x</b>"
    // headers never end INSIDE the record region — the WARC terminator
    // right after must NOT be absorbed as the HTTP blank line
    val truncHttp = "HTTP/1.1 200 OK\r\nContent-Type: text/html"
    val seg1 = (rec("u1", okHttp) + rec("u2", truncHttp) +
      rec("u3", "nope\r\n\r\nbody")).getBytes("ISO-8859-1")
    val seg2 = (rec("u4", okHttp) + "GARBAGE").getBytes("ISO-8859-1")
    val rows = TrainingOps.warcHttpRecords(sp,
        Seq((1L, seg1), (2L, seg2)).toDF("segment_id", "warc")).collect()
      .map(r => (r.getLong(0), r.getString(2),
        if (r.isNullAt(4)) -1 else r.getInt(4),
        if (r.isNullAt(5)) null else r.getString(5),
        if (r.isNullAt(6)) null else r.getString(6), r.getString(7)))
    val byUri = rows.filter(_._2 != null).map(r => r._2 -> r).toMap
    assert(byUri("u1") == ((1L, "u1", 200, "text/html", md5hex("<b>x</b>"), "ok")))
    assert(byUri("u2") == ((1L, "u2", 200, "text/html", null, "truncated")))
    assert(byUri("u3") == ((1L, "u3", -1, null, null, "malformed")))
    assert(byUri("u4") == ((2L, "u4", 200, "text/html", md5hex("<b>x</b>"), "ok")))
    val tail = rows.filter(_._2 == null)
    assert(tail.length == 1 && tail.head._1 == 2L && tail.head._6 == "warc_truncated")
  }

  test("http responses: lenient separators, first-header-wins, colon values, status-line garbage") {
    val sp = spark; import sp.implicits._
    def a(s: String) = s.getBytes("ISO-8859-1")
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.httpResponses(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((
          if (r.isNullAt(1)) -1 else r.getInt(1), r.getString(2), r.getString(3),
          r.getString(4), if (r.isNullAt(6)) -1 else r.getInt(6)))).toMap
    val out = run(Seq(
      // bare-LF separators + a colon INSIDE the header value
      1L -> a("HTTP/1.1 302 Found\nLocation: https://x.example.com/a\n\n"),
      // colonless garbage header line is skipped, not an infinite loop
      2L -> a("HTTP/1.1 200 OK\r\ngarbage line\r\nContent-Type: text/css\r\n\r\nbody"),
      // repeated header: first occurrence wins, case-insensitive names
      3L -> a("HTTP/1.1 200 OK\r\ncontent-type: a/b\r\nContent-Type: c/d\r\n\r\n"),
      4L -> a("HTTP/1.1 abc OK\r\n\r\n"), // non-numeric code
      5L -> a("HTTP/1.1 9999999 OK\r\n\r\n"), // absurd code must not throw
      6L -> Array.emptyByteArray,
      7L -> a("HTTP/1.1 204 No Content\r\n\r\n"), // empty body, ok
      8L -> a("HTTP/1.1 200 OK\r\n\r"))) // bare CR at end: headers never
    // ended — must be truncated, not a negative-length digest crash
    assert(out(1L) == ((302, null, "https://x.example.com/a", "ok", 0)))
    assert(out(2L) == ((200, "text/css", null, "ok", 4)))
    assert(out(3L) == ((200, "a/b", null, "ok", 0)))
    assert(out(4L)._4 == "malformed")
    assert(out(5L)._4 == "malformed")
    assert(out(6L)._4 == "malformed")
    assert(out(7L) == ((204, null, null, "ok", 0)))
    assert(out(8L) == ((200, null, null, "truncated", -1)))
  }

  test("charset sniffing: BOM precedence, prescan variants, utf-8 structural validation") {
    val sp = spark; import sp.implicits._
    def a(s: String) = s.getBytes("US-ASCII")
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.charsetDetect(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) ->
          ((r.getString(1), r.getString(2), r.getString(3), r.getBoolean(4)))).toMap
    val out = run(Seq(
      1L -> (Array(0xfe.toByte, 0xff.toByte) ++ a(" hi")),
      // BOM beats a meta declaration — the HTML5 precedence pin
      2L -> (Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ a("<meta charset=latin-1>")),
      3L -> a("<meta charset=UTF-8>"), // bare value, '>' terminator, case fold
      4L -> Array(0xc0.toByte, 0x80.toByte), // overlong NUL
      5L -> Array(0xed.toByte, 0xa0.toByte, 0x80.toByte), // surrogate
      6L -> Array(0xf0.toByte, 0x9f.toByte, 0x98.toByte, 0x80.toByte), // U+1F600
      7L -> (a("ok") ++ Array(0xc3.toByte)), // truncated multibyte at end
      8L -> Array(0xf4.toByte, 0x90.toByte, 0x80.toByte, 0x80.toByte), // > U+10FFFF
      9L -> Array.emptyByteArray))
    assert(out(1L) == (("utf-16be", null, "utf-16be", false)))
    assert(out(2L) == (("utf-8", "latin-1", "utf-8", true)))
    assert(out(3L) == ((null, "utf-8", "utf-8", true)))
    assert(out(4L) == ((null, null, "windows-1252", false)))
    assert(out(5L) == ((null, null, "windows-1252", false)))
    assert(out(6L) == ((null, null, "utf-8", true)))
    assert(out(7L) == ((null, null, "windows-1252", false)))
    assert(out(8L) == ((null, null, "windows-1252", false)))
    assert(out(9L) == ((null, null, "utf-8", true)))
  }

  test("crawl depth: BFS min over multiple paths, horizon NULL, cycles, self-loops, seed-only nodes") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"), // chain: e is 4 hops out
      ("a", "c"),           // shortcut: c must be 1, d 2, e 3 (min wins)
      ("b", "a"),           // cycle back: no effect on depths
      ("a", "a"),           // self-loop: filtered, never a label source
      ("x", "y"),           // disconnected component, x seeded
      ("p", "q")).toDF("src", "dst") // unseeded island: both NULL
    val seeds = Seq("a", "x", "z").toDF("host") // z: seed absent from graph
    def run(truncate: Boolean) =
      graft.datapipe.GraphOps.crawlDepth(edges, seeds, maxHops = 3,
        truncateLineage = truncate).collect()
        .map(r => r.getString(0) -> (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    val out = run(truncate = true)
    assert(out == Map("a" -> 0, "b" -> 1, "c" -> 1, "d" -> 2, "e" -> 3,
      "x" -> 0, "y" -> 1, "p" -> -1, "q" -> -1, "z" -> 0))
    // lazy (non-truncated) plan computes identically
    assert(run(truncate = false) == out)
    // horizon: at maxHops=2, e is beyond it
    val short = graft.datapipe.GraphOps.crawlDepth(edges, seeds, maxHops = 2)
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) -1 else r.getInt(1))).toMap
    assert(short("e") == -1 && short("d") == 2)
  }

  test("connected components: path convergence at diameter rounds, horizon at fewer, cycle, island, self-loop, invariance") {
    val sp = spark; import sp.implicits._
    // directed path a->b->c->d->e (undirected diameter 4 from 'a'),
    // cycle p->q->r->p, island x<->y, self-loop-only host z
    val edges = Seq(
      ("a", "b"), ("b", "c"), ("c", "d"), ("d", "e"),
      ("p", "q"), ("q", "r"), ("r", "p"),
      ("x", "y"), ("y", "x"), ("z", "z")).toDF("src", "dst")
    def run(rounds: Int) = graft.datapipe.GraphOps.connectedComponents(edges, rounds)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    val full = run(4)
    // path fully converged: every host labeled 'a', size 5
    for (h <- Seq("a", "b", "c", "d", "e")) assert(full(h) == (("a", 5L)))
    // cycle converges well inside 4 rounds
    for (h <- Seq("p", "q", "r")) assert(full(h) == (("p", 3L)))
    assert(full("x") == (("x", 2L)) && full("y") == (("x", 2L)))
    // self-loop dropped from propagation; z is its own singleton
    assert(full("z") == (("z", 1L)))
    // below-diameter horizon: after 2 rounds 'e' only sees 'c' (labels
    // advance one hop per round along the path)
    val two = run(2)
    assert(two("e")._1 == "c" && two("d")._1 == "b" && two("b")._1 == "a")
    // partitioning + lineage-mode invariance
    val rep = graft.datapipe.GraphOps.connectedComponents(
      edges.repartition(5), 4, truncateLineage = false)
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(rep == full)
  }

  test("triangles: K4 closure, pendant leaf NULL, open path cc 0, self-loop-only degree 0, invariance") {
    val sp = spark; import sp.implicits._
    // K4 on {a,b,c,d} (some edges reversed/duplicated to pin the
    // undirected distinct), pendant d-e, open path x-y-z, self-loop w
    val edges = Seq(
      ("a", "b"), ("b", "a"), ("a", "c"), ("a", "d"),
      ("b", "c"), ("c", "d"), ("d", "b"), ("b", "c"),
      ("d", "e"),
      ("x", "y"), ("y", "z"),
      ("w", "w")).toDF("src", "dst")
    def runOf(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.GraphOps.triangles(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    val out = runOf(edges)
    // K4 has 4 triangles, 3 through each vertex; a,b,c close fully
    for (h <- Seq("a", "b", "c")) assert(out(h) == ((3L, 3L, 1000000L)))
    // d additionally touches leaf e: degree 4, cc = 6/12
    assert(out("d") == ((4L, 3L, 500000L)))
    // leaf: degree 1 -> no closable wedge -> NULL, never 0
    assert(out("e") == ((1L, 0L, -1L)))
    // open path middle: degree 2, zero triangles -> cc 0 (a real zero)
    assert(out("y") == ((2L, 0L, 0L)))
    assert(out("x") == ((1L, 0L, -1L)) && out("z") == ((1L, 0L, -1L)))
    // self-loop-only host stays in the output at degree 0
    assert(out("w") == ((0L, 0L, -1L)))
    // partitioning invariance
    assert(runOf(edges.repartition(5)) == out)
  }

  test("sitemap coverage: overlap arithmetic, dedup both sides, undeclared-host NULL ppm, crawl-only host") {
    val sp = spark; import sp.implicits._
    val declared = Seq(
      "https://a.com/1", "https://a.com/2", "https://a.com/2", // dup declared
      "https://a.com/3", "https://b.com/x").toDF("url")
    val crawled = Seq(
      "https://a.com/2", "https://a.com/3", "https://a.com/3", // dup crawled
      "https://a.com/9", "https://c.com/z").toDF("url")
    val out = graft.datapipe.GraphOps.sitemapCoverage(declared, crawled)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5),
        if (r.isNullAt(6)) -1L else r.getLong(6))).toMap
    // a.com: declared {1,2,3}, crawled {2,3,9} -> both 2, missing 1, extra 1
    assert(out("a.com") == ((3L, 3L, 2L, 1L, 1L, 666666L)))
    // b.com: declared-only -> coverage 0
    assert(out("b.com") == ((1L, 0L, 0L, 1L, 0L, 0L)))
    // c.com: crawled-only, nothing declared -> NULL ppm, never a fake 100%
    assert(out("c.com") == ((0L, 1L, 0L, 0L, 1L, -1L)))
    val rep = graft.datapipe.GraphOps.sitemapCoverage(
      declared.repartition(4), crawled.repartition(3)).collect()
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(rep == out.map(kv => kv._1 -> kv._2._3))
  }

  test("lexical diversity: hand-computed ttr/hapax/top-share floors, all-same and all-distinct poles") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      1L -> "a a b c",       // 4 words, 3 distinct, 2 hapax, top 2
      2L -> "x x x x",       // repetition pole: ttr 250000, hapax 0, share 1e6
      3L -> "p q r",         // diversity pole: everything 1e6-ish
      4L -> "  ").toDF("doc_id", "text")
    val out = graft.datapipe.TrainingOps.lexicalDiversity(df).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(out(1L) == ((4L, 3L, 750000L, 500000L, 500000L)))
    assert(out(2L) == ((4L, 1L, 250000L, 0L, 1000000L)))
    assert(out(3L) == ((3L, 3L, 1000000L, 1000000L, 333333L)))
    assert(!out.contains(4L))
    val rep = graft.datapipe.TrainingOps.lexicalDiversity(df.repartition(3))
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rep == out.map(kv => kv._1 -> kv._2._3))
  }

  test("zipf ranks: hand-computed rf/dbl chain, word-asc ties, horizon NULL, truncation") {
    val sp = spark; import sp.implicits._
    // counts: a=8, b=4, c=2, e=1, d=1 (d/e tie -> d ranks first)
    val df = Seq(
      "a a a a a a a a", "b b b b", "c c", "e d", "   ").toDF("text")
      .withColumn("doc_id", monotonically_increasing_id())
    val out = graft.datapipe.TrainingOps.zipfRanks(df).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4))).sortBy(_._1)
    assert(out.toSeq == Seq(
      (1, "a", 8L, 1000000L, 2000000L), // f(1)/f(2) = 8/4
      (2, "b", 4L, 500000L, 4000000L),  // f(2)/f(4) = 4/1
      (3, "c", 2L, 250000L, -1L),       // 2r=6 beyond vocab -> NULL
      (4, "d", 1L, 125000L, -1L),       // tie with e, word asc
      (5, "e", 1L, 125000L, -1L)))
    // maxRank truncation: rank 4's doubling partner (8) is gone AND e drops
    val t4 = graft.datapipe.TrainingOps.zipfRanks(df, maxRank = 4).collect()
      .map(r => r.getInt(0)).sorted
    assert(t4.toSeq == Seq(1, 2, 3, 4))
    // partitioning / salt invariance
    val rep = graft.datapipe.TrainingOps.zipfRanks(df.repartition(5), salt = 3)
      .collect().map(r => (r.getInt(0), r.getString(1))).sortBy(_._1)
    assert(rep.toSeq == out.map(r => (r._1, r._2)).toSeq)
  }

  test("curriculum: band edges, band-major step order, within-band hash shuffle, invariances") {
    val sp = spark; import sp.implicits._
    // word counts straddling both edges: 31|32 and 63|64
    def mk(n: Int) = Seq.fill(n)("w").mkString(" ")
    val rows = Seq(1L -> mk(31), 2L -> mk(32), 3L -> mk(63), 4L -> mk(64),
      5L -> mk(10), 6L -> mk(99), 7L -> "   ", // whitespace-only: excluded
      8L -> mk(40), 9L -> mk(80))
    val df = rows.toDF("doc_id", "text")
    val out = graft.datapipe.TrainingOps.curriculumSchedule(df).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3)))
    val byId = out.map(r => r._1 -> r).toMap
    assert(!byId.contains(7L))
    assert(byId(1L)._3 == 0 && byId(2L)._3 == 1) // edge 32
    assert(byId(3L)._3 == 1 && byId(4L)._3 == 2) // edge 64
    assert(byId(5L)._3 == 0 && byId(6L)._3 == 2)
    // expected global order: band-major, then the md5-derived key, then id
    val expected = rows.filter(_._1 != 7L).map { case (id, t) =>
      val n = t.trim.split("\\s+").length
      val band = (if (n >= 32) 1 else 0) + (if (n >= 64) 1 else 0)
      (band, java.lang.Long.parseLong(md5hex("cur:" + id).take(15), 16), id)
    }.sorted.zipWithIndex.map { case ((_, _, id), i) => (id, i.toLong) }.toMap
    assert(out.map(r => r._1 -> r._4).toMap == expected)
    // steps are a permutation of 0..n-1
    assert(out.map(_._4).sorted.toSeq == (0L until 8L))
    // partitioning/shard-count invariance
    val rep = graft.datapipe.TrainingOps.curriculumSchedule(df.repartition(7), nShards = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(rep == out.map(r => r._1 -> r._4).toMap)
  }

  test("readability: hand-computed flesch chain, vowel-group syllables, min-1 floors, bands") {
    val sp = spark; import sp.implicits._
    val df = Seq(
      // W=6 S=2 Y=6: wps=3e6, spw=1e6,
      // fm = 206835 - 3045 - 84600 = 119190 -> easy
      (0L, "The cat sat. It ran fast!"),
      // vowelless words cost 1 syllable each; no terminator -> S floors
      // to 1. W=2 S=1 Y=2: wps=2e6, spw=1e6, fm=206835-2030-84600=120205
      (1L, "tsk tsk"),
      // long one-sentence doc lands difficult: W=14, S=1,
      // syllables: con-sid-er-a-tion-al has [o,i,e,a,io,a]=6 groups, the
      // rest 1 each (13) -> Y=19. wps=14e6, spw=(19e6)div 14=1357142
      // fm=206835 - (1015*14000000)div 1e6 - (84600*1357142)div 1e6
      //   = 206835 - 14210 - 114814 = 77811 ... recompute in asserts
      (2L, "considerational a b c d e f g h i j k l m"),
      (3L, " ")).toDF("doc_id", "text")
    val out = TrainingOps.readability(df).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getString(7)))).toMap
    assert(out(0L) == ((6L, 2L, 6L, 3000000L, 1000000L, 119190L, "easy")))
    assert(out(1L) == ((2L, 1L, 2L, 2000000L, 1000000L, 120205L, "easy")))
    val (w2, s2, y2, wps2, spw2, fm2, band2) = (14L, 1L, 19L, 14000000L,
      19000000L / 14L, 206835L - (1015L * 14000000L) / 1000000L -
        (84600L * (19000000L / 14L)) / 1000000L, "")
    assert(out(2L)._1 == w2 && out(2L)._2 == s2 && out(2L)._3 == y2)
    assert(out(2L)._4 == wps2 && out(2L)._5 == spw2 && out(2L)._6 == fm2)
    assert(out(2L)._7 == (if (fm2 >= 70000) "easy"
      else if (fm2 >= 50000) "standard" else "difficult"))
    assert(!out.contains(3L)) // whitespace-only excluded
  }

  test("vocab growth: naive-reference equality, spine completeness, monotone laws, partitioning invariance") {
    val sp = spark; import sp.implicits._
    val raw = (0L until 40L).map(i => (i, s"w${i % 7} w${(i * 3) % 11} shared tok$i")) :+
      (99L, "   ") // whitespace-only: excluded like every words() op
    val df = raw.toDF("doc_id", "text")
    val out = TrainingOps.vocabGrowth(df).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    assert(out.map(_._1).toSeq == (0 until 16)) // spine: one row per prefix, always
    // naive reference: bucket per doc via the same md5-prefix hash,
    // prefix b = docs with bucket <= b, vocab = distinct tokens among them
    def md5hex(s: String): String = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      d.map(b => f"$b%02x").mkString
    }
    def bk(id: Long): Int =
      (java.lang.Long.parseLong(md5hex(s"vg:$id").take(15), 16) % 16).toInt
    val docsTok = (0L until 40L).map(i =>
      (bk(i), Seq(s"w${i % 7}", s"w${(i * 3) % 11}", "shared", s"tok$i")))
    val expected = (0 until 16).map { b =>
      val in = docsTok.filter(_._1 <= b)
      (b, in.size.toLong, in.map(_._2.size.toLong).sum, in.flatMap(_._2).distinct.size.toLong)
    }
    assert(out.toSeq == expected)
    // laws: all three curves are non-decreasing; vocab <= n_tokens;
    // the last row is the corpus totals (empty doc excluded)
    out.sliding(2).foreach { case Array(p, q) =>
      assert(q._2 >= p._2 && q._3 >= p._3 && q._4 >= p._4)
    }
    assert(out.forall(r => r._4 <= r._3))
    assert(out.last == ((15, 40L, 160L, docsTok.flatMap(_._2).distinct.size.toLong)))
    // partitioning invariance
    val rep = TrainingOps.vocabGrowth(df.repartition(7)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    assert(rep.toSeq == out.toSeq)
  }

  test("edit verify: banded distance, threshold boundary, cap, sim arithmetic, empty-text guard") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "kitten"), (2L, "sitting"),   // classic d=3
      (3L, "kitten"),                    // identical to 1: d=0, sim=1e6
      (4L, ""), (5L, ""),                // both-empty: maxLen=0 guard
      (6L, "abcdefghij")                 // vs 1: d=9 (t->i... recompute below)
    ).toDF("doc_id", "text")
    def run(pairs: Seq[(Long, Long)], k: Int) =
      TrainingOps.editVerifyPairs(pairs.toDF("a", "b"), docs, k).collect()
        .map(r => (r.getLong(0), r.getLong(1)) ->
          ((r.getInt(2), r.getInt(3), r.getInt(4), r.getBoolean(5),
            if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    // threshold boundary: d=3 at k=3 is WITHIN (exact d), at k=2 capped
    val at3 = run(Seq((1L, 2L)), 3)
    // sim = 1e6*(7-3) div 7 = 571428
    assert(at3((1L, 2L)) == ((6, 7, 3, true, 571428L)))
    val at2 = run(Seq((1L, 2L)), 2)
    assert(at2((1L, 2L)) == ((6, 7, 3, false, -1L))) // capped at k+1=3, sim null
    // identical texts: d=0, sim exactly 1e6
    assert(run(Seq((1L, 3L)), 1)((1L, 3L)) == ((6, 6, 0, true, 1000000L)))
    // both empty: within (d=0) but sim null — similarity undefined at maxLen=0
    assert(run(Seq((4L, 5L)), 1)((4L, 5L)) == ((0, 0, 0, true, -1L)))
    // a genuinely far pair stays capped at every small k
    assert(run(Seq((1L, 6L)), 4)((1L, 6L))._4 == false)
    // partitioning invariance of the composed LSH->verify pipeline shape
    val out = TrainingOps.editVerifyPairs(Seq((1L, 2L)).toDF("a", "b"), docs.repartition(5), 3)
      .collect().map(_.toSeq).toSet
    assert(out == TrainingOps.editVerifyPairs(Seq((1L, 2L)).toDF("a", "b"), docs, 3)
      .collect().map(_.toSeq).toSet)
  }

  test("pmi collocations: hand-computed lift chain, minCount prune, positive-PMI cut, partitioning invariance") {
    val sp = spark; import sp.implicits._
    // unigrams: new=3 york=3 city=1 is=1 big=4 apple=2, N=14
    // bigrams: (new,york)=3, (big,apple)=2, (apple,big)=2, rest 1
    val df = Seq(
      (0L, "new york new york city"),
      (1L, "new york is big"),
      (2L, "big apple big apple big"),
      (3L, "   ")).toDF("doc_id", "text") // whitespace-only: excluded
    def run(d: org.apache.spark.sql.DataFrame, mc: Long) =
      TrainingOps.pmiCollocations(d, mc).collect()
        .map(r => (r.getString(0), r.getString(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // minCount=3 keeps only (new,york): lift chain is
    // (1000000*3) div 3 = 1000000; *14 = 14000000; div 3 = 4666666
    val out3 = run(df, 3L)
    assert(out3 == Map(("new", "york") -> ((3L, 3L, 3L, 4666666L))))
    // minCount=2 admits the apple pairs:
    // (big,apple): ((1000000*2) div 4)*14 div 2 = 500000*14 div 2 = 3500000
    // (apple,big): ((1000000*2) div 2)*14 div 4 = 1000000*14 div 4 = 3500000
    val out2 = run(df, 2L)
    assert(out2(("big", "apple")) == ((2L, 4L, 2L, 3500000L)))
    assert(out2(("apple", "big")) == ((2L, 2L, 4L, 3500000L)))
    // positive-PMI cut: (x,y) occurs once but both words are frequent —
    // ((1000000*1) div 5)*20 div 5 = 200000*20 div 5 = 800000 <= 1000000
    val low = Seq((0L, "x x x x y y y y x y"),
      (1L, "p q p q p q p q p q")).toDF("doc_id", "text")
    // unigrams: x=5 y=5 p=5 q=5, N=20; bigram (x,y)=2... recount:
    // d0 bigrams: xx xx xx xy yy yy yy yx xy -> (x,y)=2; minCount=5
    // isolates (p,q)=5 (d1 also has (q,p)=4, pruned):
    // ((1e6*5) div 5)*20 div 5 = 1000000*20 div 5 = 4000000
    val outLow = run(low, 5L)
    assert(outLow == Map(("p", "q") -> ((5L, 5L, 5L, 4000000L))))
    // the cut itself: make a pair exactly at independence — (u,v) once,
    // c(u)=c(v)=2, N=4: ((1e6*1) div 2)*4 div 2 = 1000000, NOT > 1e6
    val ind = Seq((0L, "u v"), (1L, "v u")).toDF("doc_id", "text")
    assert(run(ind, 1L).isEmpty)
    // partitioning invariance
    assert(run(df.repartition(7), 3L) == out3)
  }

  test("bigram familiarity: hand-computed conditional ppm, pruning, oov, short-doc exclusion") {
    val sp = spark; import sp.implicits._
    // corpus bigrams: d0 -> ab ba ab bc, d1 -> ab bz. c(a,b)=3, c(b,*)=1
    // each; c_l(a)=3, c_l(b)=3. minCount=2 prunes all but (a,b): ppm =
    // 1000000*3 div 3 = 1000000. d2 has one word -> no bigram evidence.
    val df = Seq((0L, "a b a b c"), (1L, "a b z"), (2L, "x")).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TrainingOps.bigramFamiliarity(d).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4))))
        .toMap
    val out = run(df)
    assert(out.keySet == Set(0L, 1L))
    assert(out(0L) == ((4, 2L, 2000000L, 500000L)))
    assert(out(1L) == ((2, 1L, 1000000L, 500000L)))
    assert(run(df.repartition(5)) == out, "score must not depend on partitioning")
  }

  test("gzip members: boundary discovery by inflation, FNAME skip, CRC verify, error taxonomy") {
    val sp = spark; import sp.implicits._
    val m1 = TrainingOps.gzipMember("first record payload".getBytes("UTF-8"))
    val m2 = TrainingOps.gzipMember("second, with a name".getBytes("UTF-8"), fname = "rec2")
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.gzipMembers(sp, rows.toDF("segment_id", "gz")).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3), r.getString(4)))
    val corrupt = (m1 ++ m2).clone()
    corrupt(m1.length - 6) = (corrupt(m1.length - 6) ^ 0xff).toByte // flip a CRC byte of m1... of m2? index m1.length-6 is inside m1's trailer
    val out = run(Seq(
      1L -> (m1 ++ m2), // two members: boundary found only by inflating
      2L -> (m1 ++ m2).dropRight(5), // cut inside m2's trailer
      3L -> ("junk".getBytes("UTF-8") ++ m1), // no magic at offset 0
      4L -> corrupt)).groupBy(_._1)
    assert(out(1L).toList.sortBy(_._2) == List(
      (1L, 0, 20L, md5hex("first record payload"), "ok"),
      (1L, 1, 19L, md5hex("second, with a name"), "ok")))
    assert(out(2L).map(_._5).sorted.toList == List("ok", "truncated"))
    assert(out(3L).toList == List((3L, 0, 0L, null, "malformed")))
    assert(out(4L).head._5 == "corrupt" && out(4L).length == 1)
  }

  test("byte walkers are total on adversarial payloads; taxonomies closed (500 cases each)") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(42)
    val payloads = (0 until 500).map { i =>
      val b = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(b)
      // bias toward structured prefixes so the deep branches get input
      val p = (i % 9: @unchecked) match {
        case 0 => "HTTP/1.1 ".getBytes("US-ASCII") ++ b
        case 1 => Array(0x1f.toByte, 0x8b.toByte, 8.toByte) ++ b
        case 2 => "RIFF1234WAVE".getBytes("US-ASCII") ++ b
        case 3 => Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a) ++ b
        case 4 => Array(0xff.toByte, 0xd8.toByte) ++ b
        case 5 => "WARC/1.0\r\nWARC-Target-URI: u\r\nContent-Length: 99999\r\n\r\n".getBytes("US-ASCII") ++ b
        case 6 => Array(0xef.toByte, 0xbb.toByte, 0xbf.toByte) ++ b
        case 7 => b
        case 8 => Array[Byte](0, 0, 0, 24) ++ "ftyp".getBytes("US-ASCII") ++ b
      }
      (i.toLong, p)
    }
    val df = payloads.toDF("doc_id", "payload")
    def statuses(out: org.apache.spark.sql.DataFrame): Set[String] =
      out.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses(TrainingOps.httpResponses(sp, df))
      .subsetOf(Set("ok", "truncated", "malformed")))
    assert(statuses(TrainingOps.imageDims(sp, df))
      .subsetOf(Set("ok", "truncated", "malformed", "unknown")))
    assert(statuses(TrainingOps.wavHeaders(sp, df))
      .subsetOf(Set("ok", "truncated", "unknown")))
    assert(statuses(TrainingOps.mp4Headers(sp, df))
      .subsetOf(Set("ok", "truncated", "malformed", "unknown")))
    assert(statuses(TrainingOps.chunkedDecode(sp, df))
      .subsetOf(Set("ok", "truncated", "malformed")))
    assert(TrainingOps.charsetDetect(sp, df).filter(col("detected").isNull).count() == 0)
    val segs = df.toDF("segment_id", "gz")
    assert(statuses(TrainingOps.gzipMembers(sp, segs))
      .subsetOf(Set("ok", "truncated", "malformed", "corrupt")))
    assert(statuses(TrainingOps.ccReader(sp, segs)).subsetOf(Set("ok", "truncated",
      "malformed", "gzip_truncated", "gzip_malformed", "gzip_corrupt",
      "warc_truncated", "warc_malformed")))
    assert(statuses(TrainingOps.warcRecords(sp, df.toDF("segment_id", "warc")))
      .subsetOf(Set("ok", "truncated", "malformed")))
  }

  test("utf-8 validator == JVM strict decoder (differential, 500 random + mutated-valid cases)") {
    val sp = spark; import sp.implicits._
    def strictValid(b: Array[Byte]): Boolean =
      try {
        java.nio.charset.StandardCharsets.UTF_8.newDecoder()
          .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
          .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          .decode(java.nio.ByteBuffer.wrap(b))
        true
      } catch { case _: java.nio.charset.CharacterCodingException => false }
    val rnd = new scala.util.Random(7)
    val cases = (0 until 500).map { i =>
      val b =
        if (i % 2 == 0) { val a = new Array[Byte](rnd.nextInt(40)); rnd.nextBytes(a); a }
        else {
          // valid UTF-8 (mixed-plane), then mutate one byte half the time
          val s = (0 until rnd.nextInt(10)).map(_ => rnd.nextInt(0x10FFFF + 1))
            .filterNot(c => c >= 0xD800 && c <= 0xDFFF)
            .map(Character.toChars(_).mkString).mkString
          val a = s.getBytes("UTF-8")
          if (a.nonEmpty && rnd.nextBoolean()) a(rnd.nextInt(a.length)) = rnd.nextInt(256).toByte
          a
        }
      (i.toLong, b)
    }
    // avoid declared-charset short-circuits: verdicts compare only where
    // no BOM/meta applies, but utf8_valid is computed unconditionally
    val got = TrainingOps.charsetDetect(sp, cases.toDF("doc_id", "payload"))
      .select("doc_id", "utf8_valid").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    cases.foreach { case (i, b) =>
      assert(got(i) == strictValid(b),
        s"case $i: validator ${got(i)} vs JVM ${strictValid(b)} on ${b.map("%02x".format(_)).mkString}")
    }
  }

  test("gzip round-trip: arbitrary member contents walk back in order, all ok, md5s match") {
    val sp = spark; import sp.implicits._
    val rnd = new scala.util.Random(11)
    val segs = (0 until 50).map { s =>
      val contents = (0 to rnd.nextInt(7)).map { _ =>
        val b = new Array[Byte](rnd.nextInt(500)); rnd.nextBytes(b); b
      }
      val gz = contents.zipWithIndex.flatMap { case (c, j) =>
        TrainingOps.gzipMember(c, if (j % 3 == 1) s"m$j" else null)
      }.toArray
      (s.toLong, contents, gz)
    }
    val out = TrainingOps.gzipMembers(sp,
        segs.map(x => (x._1, x._3)).toDF("segment_id", "gz")).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getLong(2), r.getString(3), r.getString(4))))
      .toMap
    segs.foreach { case (sid, contents, _) =>
      contents.zipWithIndex.foreach { case (c, j) =>
        val (len, m, st) = out((sid, j))
        assert(st == "ok" && len == c.length && m == md5hex2(c), s"seg $sid member $j")
      }
      assert(!out.contains((sid, contents.length)), "phantom member")
    }
  }

  private def md5hex2(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b)
      .map("%02x".format(_)).mkString

  test("cc reader: non-warc member does NOT halt the segment; gzip fault does") {
    val sp = spark; import sp.implicits._
    def rec(uri: String, http: String) =
      s"WARC/1.0\r\nWARC-Target-URI: $uri\r\nContent-Length: ${http.length}\r\n\r\n$http\r\n\r\n"
    val ok = "HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<i>y</i>"
    val m1 = TrainingOps.gzipMember(rec("u1", ok).getBytes("UTF-8"))
    val mBad = TrainingOps.gzipMember("definitely not warc".getBytes("UTF-8"))
    val m3 = TrainingOps.gzipMember(rec("u3", ok).getBytes("UTF-8"), fname = "r3")
    val seg = m1 ++ mBad ++ m3 // the bad member is in the MIDDLE
    val rows = TrainingOps.ccReader(sp, Seq((1L, seg), (2L, seg.dropRight(3)))
        .toDF("segment_id", "gz")).collect()
      .map(r => ((r.getLong(0), r.getInt(1)),
        (if (r.isNullAt(2)) null else r.getString(2), r.getString(6)))).toMap
    // member boundaries come from gzip, so the reader sails past the
    // non-warc member and still parses u3 — m3's plain-bytes walk can't
    assert(rows((1L, 0)) == (("u1", "ok")))
    assert(rows((1L, 1)) == ((null, "warc_malformed")))
    assert(rows((1L, 2)) == (("u3", "ok")))
    assert(rows((2L, 0)) == (("u1", "ok")))
    assert(rows((2L, 1)) == ((null, "warc_malformed")))
    assert(rows((2L, 2)) == ((null, "gzip_truncated"))) // cut trailer halts
  }

  test("warc walkers: a Content-Length past the bytes is truncated, never a crash (m3, m7, m10)") {
    val sp = spark; import sp.implicits._
    // too long for an Int; Int.MaxValue, whose end offset wraps an Int;
    // too long for a Long
    for (len <- Seq("99999999999", "2147483647", "99999999999999999999999")) {
      val rec = s"WARC/1.0\r\nWARC-Target-URI: u\r\nContent-Length: $len\r\n\r\npayload\r\n\r\n"
        .getBytes("US-ASCII")
      val plain = Seq((1L, rec)).toDF("segment_id", "warc")
      assert(TrainingOps.warcRecords(sp, plain).collect()
        .map(r => (r.getString(2), r.getInt(3), r.getString(5))).toSeq ==
        Seq(("u", Int.MaxValue, "truncated")), len)
      assert(TrainingOps.warcHttpRecords(sp, plain).collect()
        .map(r => (r.getString(2), r.getInt(3), r.getString(7))).toSeq ==
        Seq(("u", Int.MaxValue, "warc_truncated")), len)
      val gz = Seq((1L, TrainingOps.gzipMember(rec))).toDF("segment_id", "gz")
      assert(TrainingOps.ccReader(sp, gz).collect()
        .map(r => (r.getString(2), r.getString(6))).toSeq == Seq(("u", "warc_truncated")), len)
    }
  }

  test("wav headers: chunk walk honors sizes + odd pad, order independence, error taxonomy") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.wavHeaders(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((
          if (r.isNullAt(1)) -1 else r.getInt(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(5)) -1L else r.getLong(5), r.getString(6)))).toMap
    // id=6: kind 1 (odd LIST + pad): ch=1, rate=24000, 106 samples,
    // data=212 bytes, byteRate=48000 -> duration 1000*212/48000 = 4 ms
    val out = run(Seq(
      0L -> TrainingOps.syntheticWavPayload(0), // ch=1 rate=8000 n=100
      6L -> TrainingOps.syntheticWavPayload(6),
      7L -> TrainingOps.syntheticWavPayload(7), // kind 2: data before fmt
      3L -> TrainingOps.syntheticWavPayload(3),
      4L -> TrainingOps.syntheticWavPayload(4),
      100L -> "RIFFxxxxAVI ".getBytes("US-ASCII"))) // RIFF but not WAVE
    assert(out(0L) == ((1, 8000, 1000L * 200 / 16000, "ok")))
    assert(out(6L) == ((1, 24000, 1000L * 212 / 48000, "ok")))
    assert(out(7L) == ((2, 32000, 1000L * (107 * 4) / 128000, "ok")))
    assert(out(3L)._4 == "truncated")
    assert(out(4L)._4 == "unknown")
    assert(out(100L)._4 == "unknown")
  }

  test("refetch schedule: per-host budget respected, slots contiguous, most-overdue-first") {
    val rows = SparkEntry.queries("p9_refetch_schedule")(spark, sfDir).collect()
      .map(r => (r.getString(1), r.getLong(3), r.getInt(4)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (host, xs) =>
      assert(xs.length <= 4, s"$host exceeded budget")
      assert(xs.map(_._3).sorted.toSeq == (0 until xs.length), s"$host slots not contiguous")
      // slot order == next_fetch_ts order (most overdue first)
      assert(xs.sortBy(_._3).map(_._2).toSeq == xs.map(_._2).sorted.toSeq, s"$host order")
    }
    // hosts with >4 due candidates exist at sf0.001 (500 docs / 23 hosts),
    // so the cap is actually exercised
    assert(rows.groupBy(_._1).values.exists(_.length == 4))
  }

  test("group sample: exactly k per group (absent ties), stable under corpus growth, matches naive ranking") {
    val sp = spark; import sp.implicits._
    def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    val in = (0L until 200L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val k = 5
    val got = TrainingOps.groupSample(in, "lang", k).collect()
      .map(r => (r.getString(1), r.getLong(0))).groupBy(_._1)
      .map { case (g, xs) => g -> xs.map(_._2).toSet }
    // naive reference: k smallest hashes per group
    def naive(g: String): Set[Long] =
      (0L until 200L).filter(i => (if (i % 3 == 0) "en" else "de") == g)
        .sortBy(i => h60(s"gs:$i")).take(k).toSet
    assert(got("en") == naive("en") && got("de") == naive("de"))
    assert(got("en").size == k && got("de").size == k)
    // growth: doubling the corpus never ADDS old members back — the new
    // sample is the k smallest of the superset
    val in2 = (0L until 400L).map(i => (i, if (i % 3 == 0) "en" else "de"))
      .toDF("doc_id", "lang")
    val got2 = TrainingOps.groupSample(in2, "lang", k).collect()
      .map(r => r.getLong(0)).toSet
    val naive2 = Seq("en", "de").flatMap { g =>
      (0L until 400L).filter(i => (if (i % 3 == 0) "en" else "de") == g)
        .sortBy(i => h60(s"gs:$i")).take(k)
    }.toSet
    assert(got2 == naive2)
  }

  test("section chunks: long sections split at the word window, empty sections drop, path carried") {
    val out = SparkEntry.queries("t33_section_chunks")(spark, sfDir)
      .filter(col("doc_id").isin(4L, 3L, 5L)).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)) ->
        ((r.getString(3), r.getString(4), r.getInt(5)))).toMap
    // doc 4 (kind 4): 5-word preamble -> two chunks, 4 + 1 words
    assert(out((4L, 0, 0)) == (("", "only text 4 more", 4)))
    assert(out((4L, 0, 1)) == (("", "4", 1)))
    // doc 3 (kind 3): the empty-bodied unclosed heading contributes NO chunk
    assert(!out.keys.exists { case (d, s, _) => d == 3L && s == 1 })
    assert(out((3L, 0, 0)) == (("", "lead 3", 2)))
    // doc 5 (kind 0): breadcrumb carried per chunk
    assert(out((5L, 1, 0)) == (("T5 > A5", "alpha 5", 2)))
  }

  test("revalidation policy: TTL ladder precedence, clamps, validator modes") {
    val sp = spark; import sp.implicits._
    def row(id: Long, cc: String, exp: java.lang.Long, dt: java.lang.Long,
            etag: String, lm: java.lang.Long) =
      (id, 1000L, cc, exp, dt, etag, lm)
    val in = Seq(
      row(1, "public, max-age=500", null, null, "\"x\"", null),
      row(2, "no-store, max-age=500", null, null, "\"x\"", null), // no-store wins ttl AND mode
      row(3, "no-cache", null, null, null, 900L),    // floor ttl, validator still usable
      row(4, "MAX-AGE=7", null, null, null, null),   // case-insensitive, clamped up to 60
      row(5, "max-age=99999999999", null, null, null, null), // clamped to 30 d
      row(6, null, 4600L, 1000L, null, 900L),        // Expires - Date = 3600
      row(7, null, 500L, 1000L, null, null),         // stale Expires -> floor
      row(8, null, null, null, null, null),          // bare -> default 86400
      row(9, "s-maxage=10, max-age=300", null, null, "\"x\"", 900L)) // ETag beats LM; max-age not s-maxage
      .toDF("doc_id", "fetch_ts", "cache_control", "expires_ts", "date_ts",
        "etag", "last_modified_ts")
    val out = graft.datapipe.RelationalOps.revalidationPolicy(in).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((500L, 1500L, "conditional_etag")))
    assert(out(2L) == ((60L, 1060L, "unconditional")))
    assert(out(3L) == ((60L, 1060L, "conditional_modified")))
    assert(out(4L) == ((60L, 1060L, "unconditional")))
    assert(out(5L) == ((2592000L, 2593000L, "unconditional")))
    assert(out(6L) == ((3600L, 4600L, "conditional_modified")))
    assert(out(7L) == ((60L, 1060L, "unconditional")))
    assert(out(8L) == ((86400L, 87400L, "unconditional")))
    assert(out(9L) == ((300L, 1300L, "conditional_etag")))
  }

  test("crawl novelty: hand-computed gram diff; kept+added=new and kept+removed=old hold corpus-wide") {
    val sp = spark; import sp.implicits._
    // old: "a b c d" (grams: abc bcd), "x y z w" (xyz yzw)
    // new: "a b c d e" (abc bcd cde), "p q r" (pqr)
    val oldD = Seq((1L, "a b c d", "en"), (2L, "x y z w", "en"))
      .toDF("doc_id", "text", "lang")
    val newD = Seq((3L, "a b c d e", "en"), (4L, "p q r", "en"))
      .toDF("doc_id", "text", "lang")
    val r = TrainingOps.crawlNovelty(oldD, newD).collect()
    assert(r.length == 1)
    val row = r(0)
    // old grams: {abc,bcd,xyz,yzw}=4; new: {abc,bcd,cde,pqr}=4
    // kept {abc,bcd}=2, added {cde,pqr}=2, removed {xyz,yzw}=2
    assert((row.getLong(1), row.getLong(2), row.getLong(3), row.getLong(4),
      row.getLong(5)) == ((4L, 4L, 2L, 2L, 2L)))
    assert(row.getLong(6) == 500000L && row.getLong(7) == 500000L)
    // corpus-wide conservation on the driver split (per-lang)
    val d = docs
    val full = TrainingOps.crawlNovelty(
      d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 =!= 1)).collect()
    assert(full.nonEmpty)
    full.foreach { x =>
      assert(x.getLong(2) == x.getLong(3) + x.getLong(4), "new = kept + added")
      assert(x.getLong(1) == x.getLong(3) + x.getLong(5), "old = kept + removed")
    }
  }

  test("source overlap: KMV estimate exact when union fits sketch; truncation matches naive reference") {
    val sp = spark; import sp.implicits._
    def h60(s: String): Long = java.lang.Long.parseLong(md5hex(s).take(15), 16)
    def sh3(t: String): Set[String] =
      t.trim.split("\\s+").toSeq.sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet
    // three sources with controlled shingle overlap
    val sA = "a b c d e f g h"       // shingles: abc bcd cde def efg fgh
    val sB = "a b c d e x y z"       // shares abc bcd cde with A
    val sC = "p q r s t u"           // disjoint
    val df = Seq((1L, sA, "s1"), (2L, sB, "s2"), (3L, sC, "s3"))
      .toDF("doc_id", "text", "source")
    val out = TrainingOps.sourceOverlap(df).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    def exact(x: Set[String], y: Set[String]): (Int, Int, Long) = {
      val u = (x ++ y).size; val i = x.intersect(y).size
      (u, i, i.toLong * 1000000L / u)
    }
    // k=256 >> union sizes: the estimator must be EXACT
    assert(out(("s1", "s2")) == exact(sh3(sA), sh3(sB)))
    assert(out(("s1", "s3")) == exact(sh3(sA), sh3(sC)))
    assert(out(("s2", "s3")) == exact(sh3(sB), sh3(sC)))
    assert(out(("s1", "s2"))._3 > 0L && out(("s1", "s3"))._3 == 0L)
    // truncation: k=4 against a naive KMV reference on the same hashes
    val k = 4
    val got4 = TrainingOps.sourceOverlap(df, k).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getInt(2), r.getInt(3), r.getLong(4)))).toMap
    def sketch(t: String): Seq[Long] = sh3(t).map(h60).toSeq.sorted.take(k)
    def kmv(x: String, y: String): (Int, Int, Long) = {
      val a = sketch(x); val b = sketch(y)
      val m = (a ++ b).distinct.sorted.take(k)
      val shared = m.count(v => a.contains(v) && b.contains(v))
      (m.size, shared, shared.toLong * 1000000L / m.size)
    }
    assert(got4(("s1", "s2")) == kmv(sA, sB))
    assert(got4(("s1", "s3")) == kmv(sA, sC))
    assert(got4(("s2", "s3")) == kmv(sB, sC))
  }

  test("chunked decode: hex/extension/trailer grammar, CRLF-in-data, error taxonomy") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.chunkedDecode(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((
          if (r.isNullAt(1)) -1 else r.getInt(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) null else r.getString(3),
          if (r.isNullAt(4)) -1 else r.getInt(4), r.getString(5)))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("ISO-8859-1"))
        .map(x => f"${x & 0xff}%02x").mkString
    // data containing CRLF: the size is the only authority — a decoder
    // that scans for CRLF inside data truncates the chunk
    val crlfData = "ab\r\ncd"
    val crlfPayload = (s"${crlfData.length.toHexString}\r\n$crlfData\r\n0\r\n\r\n")
      .getBytes("ISO-8859-1")
    val out = run(Seq(
      0L -> TrainingOps.syntheticChunkedPayload(0), // 2 chunks
      7L -> TrainingOps.syntheticChunkedPayload(7), // kind 1: UPPER hex + ext
      8L -> TrainingOps.syntheticChunkedPayload(8), // kind 2: 2 trailers
      3L -> TrainingOps.syntheticChunkedPayload(3),
      4L -> TrainingOps.syntheticChunkedPayload(4),
      5L -> TrainingOps.syntheticChunkedPayload(5),
      100L -> crlfPayload,
      101L -> "5\r\nabcde\r\n0\r\nX-T: v".getBytes("ISO-8859-1"), // trailer never ends
      102L -> Array.emptyByteArray))
    assert(out(0L) == ((2, 10L, md5hex("p0:0;p1:0;"), 0, "ok")))
    assert(out(7L) == ((1, 5L, md5hex("p0:7;"), 0, "ok")))
    assert(out(8L) == ((2, 10L, md5hex("p0:8;p1:8;"), 2, "ok")))
    assert(out(3L)._5 == "truncated")
    assert(out(4L)._5 == "malformed")
    assert(out(5L)._5 == "malformed")
    assert(out(100L) == ((1, 6L, md5hex(crlfData), 0, "ok")))
    assert(out(101L)._5 == "truncated")
    assert(out(102L)._5 == "truncated")
  }

  test("cdc chunks: naive-reference parity, insertion-shift realignment, df counts") {
    val sp = spark; import sp.implicits._
    // independent naive reference: O(n*w) windowed hash, no rolling update
    def naiveChunks(text: String): Seq[String] = {
      val n = text.length
      val cuts = (4 until n).filter { p => // 1-based cut position p, p < n
        val h = (0 until 4).map(j => text.charAt(p - 1 - j).toLong *
          math.pow(31, j).toLong).sum
        h % 64 == 63
      }
      val bounds = 0 +: cuts :+ n
      bounds.sliding(2).map(b => text.substring(b(0), b(1))).toSeq
    }
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map(x => f"${x & 0xff}%02x").mkString
    val rnd = new scala.util.Random(7)
    val texts = (0 until 40).map { i =>
      (0 until 20 + rnd.nextInt(400)).map(_ => (' ' + rnd.nextInt(95)).toChar).mkString
    } :+ "abc" :+ "a" // shorter than the window: one chunk, no cuts
    val in = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val got = TrainingOps.cdcChunks(sp, in).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rs) =>
        id -> rs.sortBy(_.getInt(1)).map(r => (r.getInt(2), r.getString(3))).toSeq }
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = naiveChunks(t).map(c => (c.length, md5hex(c)))
      assert(got(i.toLong) == want, s"doc $i chunking diverged")
    }
    // insertion-shift robustness: prepend one char — every chunk after
    // the first shared cut point is IDENTICAL (a fixed grid shares none)
    val base = texts.head
    val shifted = "Z" + base
    val cb = naiveChunks(base).map(md5hex).toSet
    val cs = naiveChunks(shifted).map(md5hex).toSet
    assert(naiveChunks(base).size >= 3, "base text must actually chunk")
    val shared = cb.intersect(cs).size
    assert(shared >= cb.size - 1,
      s"CDC must realign after the edit: shared $shared of ${cb.size}")
    // df: two docs with different prefixes but a shared 600-char suffix
    // — CDC realigns inside the suffix, so interior suffix chunks carry
    // df=2 (the mirror-with-injected-header case)
    val sfx = {
      val r2 = new scala.util.Random(42)
      (0 until 600).map(_ => (' ' + r2.nextInt(95)).toChar).mkString
    }
    assert(naiveChunks(sfx).size >= 3, "suffix must have interior cuts")
    val a = "x" * 50 + sfx
    val b = "y" * 37 + sfx
    val out2 = TrainingOps.cdcChunks(sp, Seq((1L, a), (2L, b)).toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(4)))
    assert(out2.exists(_._3 == 2L), "shared suffix chunk must have df=2")
  }

  test("mp4 headers: largesize, size==0, mvhd v0/v1 widths, moov-at-end; error taxonomy") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.mp4Headers(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          if (r.isNullAt(4)) -1 else r.getInt(4), r.getString(5)))).toMap
    // hand-build a v1 payload whose duration misreads AS ZERO under v0
    // widths (v0 would read the high word of the 64-bit creation time)
    val out = run(Seq(
      0L -> TrainingOps.syntheticMp4Payload(0), // ts=600 dur=6000 tracks=1
      6L -> TrainingOps.syntheticMp4Payload(6), // kind 0: ts=1800 dur=6006 tracks=1
      8L -> TrainingOps.syntheticMp4Payload(8), // kind 2: largesize mdat, moov after
      7L -> TrainingOps.syntheticMp4Payload(7), // kind 1: v1 64-bit duration
      11L -> TrainingOps.syntheticMp4Payload(11), // kind 5: size==0 mdat at EOF
      3L -> TrainingOps.syntheticMp4Payload(3), // moov overruns -> truncated, brand kept
      4L -> TrainingOps.syntheticMp4Payload(4), // plain text -> unknown
      // ftyp alone, no moov anywhere -> walk completes, malformed
      100L -> TrainingOps.syntheticMp4Payload(0).take(24),
      // box claiming fewer bytes than its own header -> malformed
      101L -> (TrainingOps.syntheticMp4Payload(0).take(24) ++
        Array[Byte](0, 0, 0, 4) ++ "moov".getBytes("US-ASCII")),
      102L -> Array.emptyByteArray))
    assert(out(0L) == (("isom", 600, 1000L * 6000 / 600, 1, "ok")))
    assert(out(6L) == (("isom", 1800, 1000L * 6006 / 1800, 1, "ok")))
    assert(out(8L) == (("isom", 600, 1000L * 6008 / 600, 1, "ok")))
    // v1: duration 5000000007 > 2^32 — the 64-bit read is load-bearing
    assert(out(7L) == (("mp42", 2400, 1000L * 5000000007L / 2400, 1, "ok")))
    assert(out(11L) == (("isom", 2400, 1000L * 6011 / 2400, 1, "ok")))
    assert(out(3L) == (("isom", -1, -1L, -1, "truncated")))
    assert(out(4L) == ((null, -1, -1L, -1, "unknown")))
    assert(out(100L) == (("isom", -1, -1L, -1, "malformed")))
    assert(out(101L) == (("isom", -1, -1L, -1, "malformed")))
    assert(out(102L)._5 == "unknown")
  }

  test("zip entries: backward EOCD scan with comment decoy, zip64 sentinels, data-descriptor locals, truncated prefix") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.zipEntries(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) null else r.getString(3),
            if (r.isNullAt(4)) -1 else r.getInt(4),
            if (r.isNullAt(5)) -1L else r.getLong(5),
            if (r.isNullAt(6)) -1L else r.getLong(6)))).toMap
    val out = run(Seq(
      0L -> TrainingOps.syntheticZipPayload(0),  // plain 2-entry archive
      7L -> TrainingOps.syntheticZipPayload(7),  // kind 1: decoy EOCD sig in comment
      8L -> TrainingOps.syntheticZipPayload(8),  // kind 2: zip64, >4GiB entry
      3L -> TrainingOps.syntheticZipPayload(3),  // kind 3: lying local headers
      4L -> TrainingOps.syntheticZipPayload(4),  // kind 4: not a zip
      5L -> TrainingOps.syntheticZipPayload(5),  // kind 5: truncated directory
      // zip64 sentinel with no locator before the EOCD -> malformed
      100L -> (TrainingOps.syntheticZipPayload(4) ++
        Array[Byte](0x50, 0x4b, 0x05, 0x06) ++ Array.fill[Byte](6)(0) ++
        Array[Byte](-1, -1) ++ Array.fill[Byte](10)(0)),
      101L -> Array.emptyByteArray))
    assert(out((0L, 0)) == (("ok", "a0.txt", 0, 7L, 7L)))
    assert(out((0L, 1)) == (("ok", "b0.bin", 8, 5L, 20L)))
    // the scan's FIRST candidate (22 bytes from EOF) is the decoy; the
    // comment-length check rejects it and finds the true EOCD below
    assert(out((7L, 0)) == (("ok", "c7.txt", 0, 8L, 8L)))
    // zip64: count/offset via locator; uncomp resolved from the 0x0001
    // extra field — 5000000008 has a nonzero low word, so a 32-bit read
    // cannot produce it
    assert(out((8L, 0)) == (("ok", "big8.bin", 8, 1001L, 5000000008L)))
    assert(out((8L, 1)) == (("ok", "s.txt", 0, 3L, 3L)))
    // data-descriptor: local headers say 0/0, the CD says the truth
    assert(out((3L, 0)) == (("ok", "d0_3.txt", 8, 12L, 33L)))
    assert(out((3L, 1)) == (("ok", "d1.txt", 0, 4L, 4L)))
    assert(out((4L, -1)) == (("no_eocd", null, -1, -1L, -1L)))
    // truncated: the one parsed entry is KEPT, status says what happened
    assert(out((5L, 0)) == (("truncated", "t5.txt", 0, 4L, 4L)))
    assert(out((100L, -1))._1 == "malformed")
    assert(out((101L, -1))._1 == "no_eocd")
  }

  test("tar entries: octal+base256 sizes, space-padded checksums, GNU longname, posix prefix, terminator-less EOF") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.tarEntries(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) null else r.getString(3),
            if (r.isNullAt(4)) null else r.getString(4),
            if (r.isNullAt(5)) -1L else r.getLong(5)))).toMap
    val out = run(Seq(
      0L -> TrainingOps.syntheticTarPayload(0), // plain: 2 files + dir + terminator
      7L -> TrainingOps.syntheticTarPayload(7), // kind 1: GNU longname
      8L -> TrainingOps.syntheticTarPayload(8), // kind 2: prefix split + base-256
      3L -> TrainingOps.syntheticTarPayload(3), // kind 3: checksum off by one
      4L -> TrainingOps.syntheticTarPayload(4), // kind 4: not a tar
      5L -> TrainingOps.syntheticTarPayload(5), // kind 5: data past EOF
      // one valid entry then a non-zero block with no ustar magic:
      // the walk keeps its prefix and reports malformed
      103L -> (TrainingOps.syntheticTarPayload(0).take(1024) ++
        Array.fill[Byte](512)('g'.toByte)),
      100L -> Array.emptyByteArray,     // not_tar
      101L -> new Array[Byte](1024),    // empty archive: legal, ok marker
      102L -> Array.fill[Byte](600)('x'.toByte))) // no magic -> not_tar
    assert(out((0L, 0)) == (("ok", "f0.txt", "0", 7L)))
    assert(out((0L, 1)) == (("ok", "g0.bin", "0", 20L)))
    assert(out((0L, 2)) == (("ok", "d0/", "5", 0L)))
    // the 'L' pseudo-entry is consumed: ONE row whose name is the
    // 113-char longname from the data block, not the header field
    assert(out((7L, 0)) == (("ok", "longdir7/" + "x" * 100 + ".txt", "0", 8L)))
    assert(!out.contains((7L, 1)))
    // POSIX prefix field prepends with '/'; base-256 size (308 has bit
    // pattern an octal read cannot produce from 0x80-led bytes)
    assert(out((8L, 0)) == (("ok", "p8/sub/file.txt", "0", 14L)))
    assert(out((8L, 1)) == (("ok", "big.bin", "0", 308L)))
    assert(out((3L, 0)) == (("bad_checksum", "h3.txt", "0", 6L)))
    assert(!out.contains((3L, 1)))
    assert(out((4L, -1)) == (("not_tar", null, null, -1L)))
    assert(out((5L, 0)) == (("truncated", "t5.txt", "0", 6L)))
    assert(out((103L, 0)) == (("malformed", "f0.txt", "0", 7L)))
    assert(out((100L, -1))._1 == "not_tar")
    assert(out((101L, -1))._1 == "ok")
    assert(out((102L, -1))._1 == "not_tar")
  }

  test("png chunks: crc verify continues walk, iend stops it, both truncations, malformed type/length, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.pngChunks(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) null else r.getString(4),
            if (r.isNullAt(5)) -1 else r.getInt(5),
            if (r.isNullAt(6)) -1 else r.getInt(6),
            if (r.isNullAt(7)) -1 else r.getInt(7))))
        .toMap
    // generator families: ids 0..5 cover %6 = 0..5; ids 8 and 14 are the
    // two %6=2 variants (8/6=1 odd -> partial header; 14/6=2 -> overrun)
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 8L, 14L)
    val out = run(ids.map(id => (id, TrainingOps.syntheticPngPayload(id))))
    // family 0 (id 0): five chunks, all ok, junk tail never walked
    assert(out((0L, 0)) == (("ok", 8L, "IHDR", 13, 1, 1)))
    assert(out((0L, 1)) == (("ok", 33L, "tEXt", 1, 1, 0)))
    assert(out((0L, 2)) == (("ok", 46L, "IDAT", 0, 1, 1)))
    assert(out((0L, 4)) == (("ok", 73L, "IEND", 0, 1, 1)))
    assert(!out.contains((0L, 5)))
    // family 1 (id 1): ONLY the tEXt crc fails, walk continues to IEND
    assert(out((1L, 1))._5 == 0)
    assert(out((1L, 0))._5 == 1)
    assert(out((1L, 4))._1 == "ok")
    // family 2 both variants -> same truncated row (prefix kept)
    assert(out((2L, 0)) == (("truncated", 8L, "IHDR", 13, 1, 1)))
    assert(out((8L, 0))._1 == "truncated" && out((14L, 0))._1 == "truncated")
    // family 3: high-bit length -> malformed, IHDR kept
    assert(out((3L, 0))._1 == "malformed")
    // family 4: marker row
    assert(out((4L, -1)) == (("not_png", -1L, null, -1, -1, -1)))
    // family 5: clean EOF, no IEND
    assert(out((5L, 1)) == (("no_iend", 33L, "tEXt", 6, 1, 0)))
    // non-alphabetic type byte -> malformed (after the valid IHDR)
    val sig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)
    val bad = sig ++ TrainingOps.syntheticPngPayload(0L).slice(8, 33) ++
      Array[Byte](0, 0, 0, 1) ++ "t1ME".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0, 0)
    val m = run(Seq((90L, bad)))
    assert(m((90L, 0))._3 == "IHDR" && m((90L, 0))._1 == "malformed")
    // empty + null-ish payloads
    assert(run(Seq((91L, Array.emptyByteArray)))((91L, -1))._1 == "not_png")
    // totality fuzz: random bytes and bit-flipped valid payloads always
    // yield a status, never an exception
    val rnd = new scala.util.Random(4242)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill((rnd.nextInt(80)))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticPngPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.pngChunks(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "not_png", "truncated", "malformed", "no_iend")))
  }

  test("jpeg segments: length-driven walk over planted markers, ff00 stuffing, rst rows, eoi stops, no_eoi, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.jpegSegments(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) null else r.getString(4),
            if (r.isNullAt(5)) -1 else r.getInt(5),
            if (r.isNullAt(6)) -1 else r.getInt(6))))
        .toMap
    // ids 0..5 cover the %6 families; 8 (8/6=1 odd) is the lone-FF
    // truncation variant, 14 (14/6=2 even) the length-overrun one
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 8L, 14L)
    val out = run(ids.map(id => (id, TrainingOps.syntheticJpegPayload(id))))
    // id 0: al=1 cl=0 el=5 — the planted FF D8 opening the COM body is
    // stepped over by the declared length (COM@7, SOF0@13 — a scan-for-FF
    // walker would have restarted at the fake SOI instead); the stuffed
    // FF00 opening the entropy run is data (ecs 7 = 2 + el); RST0 gets
    // its own in-scan row owning 3 bytes; EOI@58 ends the walk with the
    // JUNK tail unscanned (no idx 7)
    assert(out((0L, 0)) == (("ok", 0L, "SOI", -1, -1)))
    assert(out((0L, 1)) == (("ok", 2L, "APP0", 3, -1)))
    assert(out((0L, 2)) == (("ok", 7L, "COM", 4, -1)))
    assert(out((0L, 3)) == (("ok", 13L, "SOF0", 17, -1)))
    assert(out((0L, 4)) == (("ok", 32L, "SOS", 12, 7)))
    assert(out((0L, 5)) == (("ok", 53L, "RST0", -1, 3)))
    assert(out((0L, 6)) == (("ok", 58L, "EOI", -1, -1)))
    assert(!out.contains((0L, 7)))
    // id 1: non-FF where a marker is expected — prefix kept
    assert(out((1L, 0))._1 == "malformed" && out((1L, 1)) == (("malformed", 2L, "APP0", 4, -1)))
    // family 2 both variants -> same truncated prefix
    assert(out((2L, 1))._1 == "truncated" && out((8L, 1))._1 == "truncated")
    assert(out((14L, 1)) == (("truncated", 2L, "APP0", 17, -1)))
    assert(!out.contains((2L, 2)))
    // id 3: length field 1 < 2 (the field includes itself) -> malformed
    assert(out((3L, 1))._1 == "malformed" && !out.contains((3L, 2)))
    // id 4: marker row
    assert(out((4L, -1)) == (("not_jpeg", -1L, null, -1, -1)))
    // id 5: al=6 el=10 — clean EOF mid-entropy is no_eoi, NOT truncated,
    // and the SOS row still owns its consumed entropy bytes (2 + el)
    assert(out((5L, 3)) == (("no_eoi", 31L, "SOS", 12, 12)))
    assert(!out.contains((5L, 4)))
    // empty payload
    assert(run(Seq((91L, Array.emptyByteArray)))((91L, -1))._1 == "not_jpeg")
    // totality fuzz: random bytes and bit-flipped valid payloads always
    // yield a status, never an exception or a hang
    val rnd = new scala.util.Random(1717)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticJpegPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.jpegSegments(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "not_jpeg", "truncated", "malformed", "no_eoi")))
  }

  test("mp3 frames: computed lengths chain, syncsafe id3v2 skip, exact id3v1 tail, free-format, no resync, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.mp3Frames(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) null else r.getString(4),
            if (r.isNullAt(5)) -1 else r.getInt(5),
            if (r.isNullAt(6)) -1 else r.getInt(6),
            if (r.isNullAt(7)) -1 else r.getInt(7),
            if (r.isNullAt(8)) -1 else r.getInt(8),
            if (r.isNullAt(9)) -1 else r.getInt(9))))
        .toMap
    val ids = Seq(0L, 1L, 2L, 3L, 4L, 5L, 8L, 14L)
    val out = run(ids.map(id => (id, TrainingOps.syntheticMp3Payload(id))))
    // id 0: br=32 sr=44100 base=104 crc=1 tl=138; tag row then three
    // frames with alternating padding, offsets chained by COMPUTED length
    assert(out((0L, 0)) == (("ok", 0L, "id3v2", -1, -1, -1, 138, -1)))
    assert(out((0L, 1)) == (("ok", 138L, "frame", 32, 44100, 0, 104, 1)))
    assert(out((0L, 2)) == (("ok", 242L, "frame", 32, 44100, 1, 105, 1)))
    assert(out((0L, 3)) == (("ok", 347L, "frame", 32, 44100, 0, 104, 1)))
    assert(!out.contains((0L, 4)))
    // id 1: br=40 sr=48000 base=120, two frames then the id3v1 row
    assert(out((1L, 0)) == (("ok", 0L, "frame", 40, 48000, 1, 121, 0)))
    assert(out((1L, 1)) == (("ok", 121L, "frame", 40, 48000, 0, 120, 0)))
    assert(out((1L, 2)) == (("ok", 241L, "id3v1", -1, -1, -1, 128, -1)))
    // family 2 both variants -> truncated, one-frame prefix kept
    assert(out((2L, 0))._1 == "truncated" && out((8L, 0))._1 == "truncated"
      && out((14L, 0))._1 == "truncated")
    assert(!out.contains((2L, 1)))
    // id 3: sync lost after a valid frame -> malformed, NO resync hunt
    assert(out((3L, 0))._1 == "malformed" && !out.contains((3L, 1)))
    assert(out((4L, -1)) == (("not_mp3", -1L, null, -1, -1, -1, -1, -1)))
    // id 5: free-format header is its own verdict, not an error
    assert(out((5L, 0))._1 == "free_bitrate" && !out.contains((5L, 1)))
    // handcrafted: MPEG-2 version bits / reserved samplerate / bitrate
    // 15 / misplaced TAG all malformed; truncated ID3v2 yields a marker
    def hdr(b1: Int, b2: Int) = Array(0xff.toByte, b1.toByte, b2.toByte, 0xc0.toByte)
    val frame1 = TrainingOps.syntheticMp3Payload(1L).take(121) // one valid frame
    val m = run(Seq(
      (90L, hdr(0xf3, 0x14)),                     // version 10 = MPEG-2
      (91L, hdr(0xfb, 0x1c)),                     // srIdx 3 reserved
      (92L, hdr(0xfb, 0xf4)),                     // brIdx 15
      (93L, frame1 ++ "TAG but not 128".getBytes("US-ASCII")),
      (94L, Array[Byte]('I', 'D', '3', 3, 0, 0, 0, 0, 1, 0, 'x', 'x')),
      (95L, Array.emptyByteArray)))
    assert(m((90L, -1))._1 == "malformed")
    assert(m((91L, -1))._1 == "malformed")
    assert(m((92L, -1))._1 == "malformed")
    assert(m((93L, 0))._3 == "frame" && m((93L, 0))._1 == "malformed")
    assert(m((94L, -1))._1 == "truncated") // declared tag 138 > 10 bytes present
    assert(m((95L, -1))._1 == "not_mp3")
    // totality fuzz
    val rnd = new scala.util.Random(2929)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticMp3Payload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.mp3Frames(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(
      Set("ok", "not_mp3", "truncated", "malformed", "free_bitrate")))
  }

  test("zstd frames: declared-extent walk, FCS bias, RLE one-byte consumption, skippable, reserved bits, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.zstdFrames(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) null else r.getString(4),
            if (r.isNullAt(5)) null else r.getString(5),
            if (r.isNullAt(6)) -1 else r.getInt(6),
            if (r.isNullAt(7)) -1 else r.getInt(7),
            if (r.isNullAt(8)) -1L else r.getLong(8))))
        .toMap
    val out = run((0L to 5L).map(id => (id, TrainingOps.syntheticZstdPayload(id))))
    // id 0: r1=16 r2=8 rc=64 — header 9 (magic+desc+window+did+2B FCS),
    // decoded FCS carries the +256 bias; RLE consumes ONE byte although
    // its Block_Size says 64 (regenerated count), pinned by clean EOF
    assert(out((0L, 0)) == (("ok", 0L, "frame", null, 9, -1, 344L)))
    assert(out((0L, 1)) == (("ok", 9L, "block", "raw", 16, 0, -1L)))
    assert(out((0L, 2)) == (("ok", 28L, "block", "compressed", 8, 0, -1L)))
    assert(out((0L, 3)) == (("ok", 39L, "block", "rle", 64, 1, -1L)))
    // id 1: skippable skipped by u32 size; single-segment frame has NO
    // window byte (header 6) and a 1-byte FCS; checksum row trails
    assert(out((1L, 0)) == (("ok", 0L, "skippable", null, 5, -1, -1L)))
    assert(out((1L, 1)) == (("ok", 13L, "frame", null, 6, -1, 11L)))
    assert(out((1L, 2)) == (("ok", 19L, "block", "raw", 11, 1, -1L)))
    assert(out((1L, 3)) == (("ok", 33L, "checksum", null, 4, -1, -1L)))
    // id 2: declared 1000-byte block over a 5-byte tail
    assert(out((2L, 0))._1 == "truncated" && !out.contains((2L, 1)))
    // id 3: reserved block type after a valid raw block
    assert(out((3L, 0))._1 == "malformed")
    assert(out((3L, 1)) == (("malformed", 6L, "block", "raw", 8, 0, -1L)))
    assert(out((4L, -1))._1 == "not_zstd")
    // id 5: reserved DESCRIPTOR bit on the second frame; first kept
    assert(out((5L, 1)) == (("malformed", 6L, "block", "raw", 12, 1, -1L)))
    // handcrafted: 4/8-byte FCS decode, explicit bias floor, skippable
    // and checksum truncation, frame concatenation, post-frame garbage
    val ab = scala.collection.mutable.ArrayBuffer
    def bytes(body: scala.collection.mutable.ArrayBuffer[Byte] => Unit): Array[Byte] = {
      val bb = ab.empty[Byte]; body(bb); bb.toArray
    }
    def le(bb: scala.collection.mutable.ArrayBuffer[Byte], v: Long, k: Int): Unit =
      (0 until k).foreach(i => bb += ((v >> (8 * i)) & 0xff).toByte)
    def miniFrame(bb: scala.collection.mutable.ArrayBuffer[Byte]): Unit = {
      le(bb, 0xFD2FB528L, 4); bb += 0x00.toByte; bb += 0x88.toByte
      le(bb, (2L << 3) | 1L, 3); bb += 'a'.toByte; bb += 'b'.toByte
    }
    val m = run(Seq(
      90L -> bytes { bb => // FCS flag 2: u32, no bias
        le(bb, 0xFD2FB528L, 4); bb += 0x80.toByte; bb += 0x88.toByte
        le(bb, 70000L, 4); le(bb, (2L << 3) | 1L, 3); bb += 'x'.toByte; bb += 'y'.toByte },
      91L -> bytes { bb => // FCS flag 3: u64
        le(bb, 0xFD2FB528L, 4); bb += 0xC0.toByte; bb += 0x88.toByte
        le(bb, 1L << 33, 8); le(bb, (0L << 3) | 1L, 3) },
      92L -> bytes { bb => // 2-byte field 0 decodes to exactly 256
        le(bb, 0xFD2FB528L, 4); bb += 0x40.toByte; bb += 0x88.toByte
        le(bb, 0L, 2); le(bb, (0L << 3) | 1L, 3) },
      93L -> bytes { bb => le(bb, 0x184D2A5FL, 4); le(bb, 100L, 4); bb += 's'.toByte },
      94L -> bytes { bb => // checksum flag set, 2 bytes where 4 belong
        le(bb, 0xFD2FB528L, 4); bb += 0x24.toByte; bb += 3.toByte
        le(bb, (3L << 3) | 1L, 3); bb += 'p'.toByte; bb += 'q'.toByte
        bb += 'r'.toByte; bb += 0xAA.toByte; bb += 0xAA.toByte },
      95L -> bytes { bb => miniFrame(bb); miniFrame(bb) },
      96L -> bytes { bb => miniFrame(bb); bb ++= "XYZW".getBytes("US-ASCII") },
      97L -> bytes { bb => miniFrame(bb); bb += 'j'.toByte; bb += 'k'.toByte },
      98L -> Array.emptyByteArray))
    assert(m((90L, 0))._7 == 70000L && m((90L, 0))._5 == 10)
    assert(m((91L, 0))._7 == (1L << 33) && m((91L, 0))._5 == 14)
    assert(m((92L, 0))._7 == 256L)
    assert(m((93L, -1))._1 == "truncated")
    assert(m((94L, 1))._3 == "block" && m((94L, 1))._1 == "truncated"
      && !m.contains((94L, 2)))
    assert(m((95L, 3)) == (("ok", 17L, "block", "raw", 2, 1, -1L)))
    assert(m((96L, 0))._1 == "malformed" && m.contains((96L, 1)))
    assert(m((97L, 0))._1 == "truncated")
    assert(m((98L, -1))._1 == "not_zstd")
    // totality fuzz: random bytes + bit-flipped valid payloads
    val rnd = new scala.util.Random(3131)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticZstdPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.zstdFrames(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "not_zstd", "truncated", "malformed")))
  }

  test("ebml elements: vint widths, unknown-size segment, extent disagreement vs truncation, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.ebmlElements(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) -1 else r.getInt(4),
            if (r.isNullAt(5)) null else r.getString(5),
            if (r.isNullAt(6)) -1L else r.getLong(6),
            if (r.isNullAt(7)) -1 else r.getInt(7))))
        .toMap
    val out = run((0L to 5L).map(id => (id, TrainingOps.syntheticEbmlPayload(id))))
    // id 0: dc=11 i1=5 c1=9 — declared segment, one-level descent
    assert(out((0L, 0)) == (("ok", 0L, 0, "1A45DFA3", 11L, 5)))
    assert(out((0L, 1)) == (("ok", 16L, 0, "18538067", 24L, 5)))
    assert(out((0L, 2)) == (("ok", 21L, 1, "1549A966", 5L, 5)))
    assert(out((0L, 3)) == (("ok", 31L, 1, "1F43B675", 9L, 5)))
    // id 1: dc=12 c1=10 c2=5 — UNKNOWN segment size (esize null) to EOF
    assert(out((1L, 1)) == (("ok", 17L, 0, "18538067", -1L, 5)))
    assert(out((1L, 2)) == (("ok", 22L, 1, "1F43B675", 10L, 5)))
    assert(out((1L, 3)) == (("ok", 37L, 1, "1F43B675", 5L, 5)))
    // id 2: segment declares more than the file holds — row kept
    assert(out((2L, 1))._1 == "truncated" && !out.contains((2L, 2)))
    // id 3: 0x00 where a child ID belongs
    assert(out((3L, 2))._4 == "1549A966" && out((3L, 2))._1 == "malformed")
    assert(out((4L, -1))._1 == "not_ebml")
    // id 5: dc=16 i1=10 v1=3 — 2-byte ID, then a NON-MINIMAL 4-byte
    // size VINT on Info: same value, width from the marker (hdr 8)
    assert(out((5L, 1)) == (("ok", 21L, 0, "4286", 3L, 3)))
    assert(out((5L, 3)) == (("ok", 32L, 1, "1549A966", 10L, 8)))
    // handcrafted: declared-segment child crossing the boundary is
    // MALFORMED (disagreeing extents) where the unknown-size segment's
    // identical overrun is TRUNCATED; unknown size on a child is
    // malformed; 8-byte size unknown sentinel; mid-ID truncation
    def bs(xs: Int*) = xs.map(_.toByte).toArray
    val hdr = bs(0x1a, 0x45, 0xdf, 0xa3, 0x81, 0x65)
    val m = run(Seq(
      90L -> (hdr ++ bs(0x18, 0x53, 0x80, 0x67, 0x88,
        0x1f, 0x43, 0xb6, 0x75, 0x90) ++ Array.fill(3)('c'.toByte)),
      91L -> (hdr ++ bs(0x18, 0x53, 0x80, 0x67, 0xff,
        0x1f, 0x43, 0xb6, 0x75, 0x90) ++ Array.fill(3)('c'.toByte)),
      92L -> (hdr ++ bs(0x18, 0x53, 0x80, 0x67, 0x82, 0x1f, 0x43)),
      93L -> (hdr ++ bs(0x18, 0x53, 0x80, 0x67, 0x86,
        0x15, 0x49, 0xa9, 0x66, 0xff, 0x69)),
      94L -> bs(0x1a, 0x45, 0xdf, 0xa3, 0x01, 0xff, 0xff, 0xff,
        0xff, 0xff, 0xff, 0xff)))
    assert(m((90L, 1))._1 == "malformed")  // child 16 > declared 8 (even at EOF)
    assert(m((91L, 1))._1 == "truncated")  // same bytes, unknown segment
    assert(m((92L, 1))._1 == "malformed")  // mid-ID cut inside declared seg
    assert(m((93L, 1))._1 == "malformed")  // unknown size on a CHILD
    assert(m((94L, -1))._1 == "malformed") // 8-byte all-ones decodes to
    // UNKNOWN, and unknown on the EBML header (non-segment) is malformed
    // totality fuzz
    val rnd = new scala.util.Random(3434)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticEbmlPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.ebmlElements(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "not_ebml", "truncated", "malformed")))
  }

  test("ogg pages: lacing sums, packet run rule, crc verifies but never drives, flags, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.oggPages(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) -1 else r.getInt(4),
            if (r.isNullAt(5)) -1L else r.getLong(5),
            if (r.isNullAt(7)) -1L else r.getLong(7),
            if (r.isNullAt(8)) -1 else r.getInt(8),
            if (r.isNullAt(9)) -1 else r.getInt(9),
            if (r.isNullAt(10)) -1 else r.getInt(10),
            if (r.isNullAt(11)) -1 else r.getInt(11))))
        .toMap
    val out = run((0L to 4L).map(id => (id, TrainingOps.syntheticOggPayload(id))))
    // id 0: l1=10 l2=5 r=7 — BOS page: 2 whole packets; EOS page: ONE
    // packet spanning lacing (255, 7); offsets chained by 27+nseg+body
    assert(out((0L, 0)) == (("ok", 0L, 2, 0L, 0L, 2, 15, 2, 1)))
    assert(out((0L, 1)) == (("ok", 44L, 4, 0L, 1L, 2, 262, 1, 1)))
    // id 1: 255,255,l3 run = ONE packet; CRC corrupted post-compute:
    // crc_ok=0 and the page still walks to ok — checksums never drive
    assert(out((1L, 0)) == (("ok", 0L, 2, 1L, 0L, 3, 514, 1, 0)))
    // id 2: five declared lacing values over a two-byte table
    assert(out((2L, -1))._1 == "truncated")
    // id 3: version-1 page after a valid page; first page's row kept
    assert(out((3L, 0))._1 == "malformed" && out((3L, 0))._7 == 13)
    assert(!out.contains((3L, 1)))
    assert(out((4L, -1))._1 == "not_ogg")
    // handcrafted: pure continuation page (single 255 lacing -> zero
    // packets complete), header cut, magic loss mid-stream
    val one = TrainingOps.syntheticOggPayload(3L).take(41) // first page only (27+1+l1=13)
    val m = run(Seq(
      90L -> {
        val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
        bb ++= "OggS".getBytes("US-ASCII"); bb += 0.toByte; bb += 1.toByte
        (0 until 8).foreach(_ => bb += 0.toByte)
        (0 until 8).foreach(_ => bb += 0.toByte) // serial + seq
        (0 until 4).foreach(_ => bb += 0.toByte) // wrong crc
        bb += 1.toByte; bb += 255.toByte
        (0 until 255).foreach(_ => bb += 'z'.toByte)
        bb.toArray
      },
      91L -> one.take(20),
      92L -> (one ++ ("J" * 28).getBytes("US-ASCII"))))
    assert(m((90L, 0))._1 == "ok" && m((90L, 0))._8 == 0   // n_packets 0
      && m((90L, 0))._3 == 1 && m((90L, 0))._9 == 0)       // continued flag, bad crc
    assert(m((91L, -1))._1 == "truncated")
    assert(m((92L, 0))._1 == "malformed")                  // magic loss after a page
    // totality fuzz
    val rnd = new scala.util.Random(3535)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticOggPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.oggPages(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "not_ogg", "truncated", "malformed")))
  }

  test("tfrecord records: masked crc32c, halt-vs-continue policy, zero-length record, empty shard, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.tfrecordRecords(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0), if (r.isNullAt(2)) -1 else r.getInt(2)) ->
          ((r.getString(1),
            if (r.isNullAt(3)) -1L else r.getLong(3),
            if (r.isNullAt(4)) -1L else r.getLong(4),
            if (r.isNullAt(5)) -1 else r.getInt(5),
            if (r.isNullAt(6)) -1 else r.getInt(6))))
        .toMap
    val out = run((0L to 4L).map(id => (id, TrainingOps.syntheticTfrecordPayload(id))))
    // id 0: r1=8 r2=5 r3=3 — three clean records, offsets 16+len apart
    assert(out((0L, 0)) == (("ok", 0L, 8L, 1, 1)))
    assert(out((0L, 1)) == (("ok", 24L, 5L, 1, 1)))
    assert(out((0L, 2)) == (("ok", 45L, 3L, 1, 1)))
    // id 1: data crc fails on record 1, boundary trusted, walk continues
    assert(out((1L, 1))._5 == 0 && out((1L, 2))._1 == "ok")
    // id 2: LENGTH crc fails on record 1 -> halt, record 0 kept
    assert(out((2L, 0))._1 == "corrupt_len" && !out.contains((2L, 1)))
    // id 3: declared length past EOF with a valid length crc
    assert(out((3L, 0))._1 == "truncated" && !out.contains((3L, 1)))
    assert(out((4L, -1))._1 == "truncated")
    // handcrafted: empty shard is OK (no magic, zero records is valid);
    // a zero-length record round-trips (crcs over 8 length bytes and
    // over the empty payload)
    val zero = {
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      val lenBytes = new Array[Byte](8)
      bb ++= lenBytes
      val lc = TrainingOps.tfMaskedCrc(lenBytes, 0, 8).toLong & 0xffffffffL
      (0 until 4).foreach(i => bb += ((lc >> (8 * i)) & 0xff).toByte)
      val dcx = TrainingOps.tfMaskedCrc(Array.emptyByteArray, 0, 0).toLong & 0xffffffffL
      (0 until 4).foreach(i => bb += ((dcx >> (8 * i)) & 0xff).toByte)
      bb.toArray
    }
    val m = run(Seq(90L -> Array.emptyByteArray, 91L -> zero))
    assert(m((90L, -1))._1 == "ok")
    assert(m((91L, 0)) == (("ok", 0L, 0L, 1, 1)))
    // totality fuzz
    val rnd = new scala.util.Random(3636)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticTfrecordPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.tfrecordRecords(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "truncated", "corrupt_len")))
  }

  test("parquet footer: end-anchored geometry, verdict split, boundary footer, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.parquetFooter(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1L else r.getLong(2),
          if (r.isNullAt(3)) -1L else r.getLong(3),
          r.getInt(4)))).toMap
    val out = run((0L to 4L).map(id => (id, TrainingOps.syntheticParquetPayload(id))))
    // id 0: p=30 fl=20 -> n=62, footer at 34
    assert(out(0L) == (("ok", 20L, 34L, 62)))
    assert(out(1L)._1 == "not_parquet")
    assert(out(2L)._1 == "malformed")
    assert(out(3L)._1 == "corrupt_footer" && out(3L)._2 == 156L) // 33+23+100
    assert(out(4L)._1 == "truncated")
    // boundary: footer_len exactly n-12 is legal (zero data bytes);
    // one more is corrupt
    def mini(fl: Int, declared: Int) = {
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      bb ++= "PAR1".getBytes("US-ASCII")
      (0 until fl).foreach(_ => bb += 'm'.toByte)
      (0 until 4).foreach(i => bb += ((declared >> (8 * i)) & 0xff).toByte)
      bb ++= "PAR1".getBytes("US-ASCII")
      bb.toArray
    }
    val m = run(Seq(90L -> mini(5, 5), 91L -> mini(5, 6), 92L -> Array.emptyByteArray))
    assert(m(90L) == (("ok", 5L, 4L, 17)))
    assert(m(91L)._1 == "corrupt_footer")
    assert(m(92L)._1 == "not_parquet")
    val rnd = new scala.util.Random(3737)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(80))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticParquetPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.parquetFooter(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(
      Set("ok", "not_parquet", "truncated", "malformed", "corrupt_footer")))
  }

  test("webp chunks: three codecs agree, size gate, bad sync, dim maxima, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.webpChunks(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) "-" else r.getString(2),
          if (r.isNullAt(3)) -1 else r.getInt(3), if (r.isNullAt(4)) -1 else r.getInt(4),
          if (r.isNullAt(5)) -1 else r.getInt(5), r.getInt(6)))).toMap
    val out = run((0L to 5L).map(id => (id, TrainingOps.syntheticWebpPayload(id))))
    // all three codecs decode the same (w,h) formulas: ids 0/1/2
    assert(out(0L) == (("ok", "lossy", 160, 120, 1, 40)))
    assert(out(1L) == (("ok", "lossless", 161, 121, 1, 36)))
    assert(out(2L) == (("ok", "extended", 162, 122, 2, 46)))
    assert(out(3L)._1 == "not_webp")
    assert(out(4L) == (("truncated", "-", -1, -1, -1, 24)))
    // RIFF size off by 3: the concat/truncate tell, checked FIRST
    assert(out(5L)._1 == "malformed")
    // hand-built: VP8 sync bytes wrong -> malformed; VP8L at the
    // 14-bit maximum (16384 x 16384) -> no cross-field bleed
    val bad = TrainingOps.syntheticWebpPayload(0L).clone()
    bad(12 + 8 + 3) = 0x11 // corrupt the 9d sync byte; RIFF size intact
    def vp8lMax(): Array[Byte] = {
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      bb ++= "RIFF".getBytes("US-ASCII"); bb ++= Array[Byte](18, 0, 0, 0)
      bb ++= "WEBP".getBytes("US-ASCII"); bb ++= "VP8L".getBytes("US-ASCII")
      bb ++= Array[Byte](5, 0, 0, 0); bb += 0x2f
      val bits = 16383L | (16383L << 14)
      (0 until 4).foreach(i => bb += ((bits >> (8 * i)) & 0xff).toByte)
      bb += 0 // odd pad
      bb.toArray
    }
    val hb = run(Seq(90L -> bad, 91L -> vp8lMax()))
    assert(hb(90L)._1 == "malformed")
    assert(hb(91L) == (("ok", "lossless", 16384, 16384, 1, 26)))
    val rnd = new scala.util.Random(2727)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(70))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticWebpPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v.take(if (rnd.nextBoolean()) v.length else rnd.nextInt(v.length + 1))
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.webpChunks(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "not_webp", "truncated", "malformed")))
  }

  test("proto fields: varint walk, empty message, field zero, overlong, max varint, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.protoFields(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1 else r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4), if (r.isNullAt(5)) -1 else r.getInt(5),
          if (r.isNullAt(6)) -1 else r.getInt(6),
          if (r.isNullAt(7)) -1L else r.getLong(7), r.getInt(8)))).toMap
    val out = run((0L to 4L).map(id => (id, TrainingOps.syntheticProtoPayload(id))))
    // id 0: v=5 -> n=26; 5 fields over the four live wire types
    assert(out(0L) == (("ok", 5, 2, 1, 1, 1, 5L, 26)))
    // the EMPTY byte string is a valid message; no fields is NULL, not 0
    assert(out(1L) == (("ok", 0, 0, 0, 0, 0, -1L, 0)))
    assert(out(2L) == (("truncated", -1, -1, -1, -1, -1, -1L, 5)))
    // deprecated group type after one good field: pre-fault tally kept
    assert(out(3L) == (("malformed", 1, 1, 0, 0, 0, 1L, 5)))
    assert(out(4L) == (("truncated", -1, -1, -1, -1, -1, -1L, 4)))
    // hand-built pins
    val hb = run(Seq(
      // field number 0 is the spec's explicit invalid
      90L -> Array[Byte](0x00),
      // 11 continuation bytes: overlong (64 bits fit in 10)
      91L -> (Array[Byte](0x08) ++ Array.fill(11)(0x80.toByte)),
      // maximal legal varint: nine 0xff + 0x01 = 10 bytes, value -1
      92L -> (Array[Byte](0x08) ++ Array.fill(9)(0xff.toByte) ++ Array[Byte](0x01)),
      // zero-length delimited field is legal
      93L -> Array[Byte](0x12, 0x00),
      // fixed32 cut after 2 of 4 bytes
      94L -> Array[Byte](0x1d, 0x01, 0x02)))
    assert(hb(90L)._1 == "malformed" && hb(90L)._2 == 0)
    assert(hb(91L)._1 == "malformed")
    assert(hb(92L) == (("ok", 1, 1, 0, 0, 0, 1L, 11)))
    assert(hb(93L) == (("ok", 1, 0, 1, 0, 0, 2L, 2)))
    assert(hb(94L)._1 == "truncated")
    val rnd = new scala.util.Random(6363)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(60))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticProtoPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v.take(if (rnd.nextBoolean()) v.length else rnd.nextInt(v.length + 1))
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.protoFields(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "truncated", "malformed")))
  }

  test("flac blocks: bit unpack, family split, streaminfo-only, max fields, header cut, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.flacBlocks(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1 else r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4), if (r.isNullAt(5)) -1 else r.getInt(5),
          if (r.isNullAt(6)) -1L else r.getLong(6), if (r.isNullAt(7)) -1L else r.getLong(7),
          r.getInt(8)))).toMap
    val out = run((0L to 4L).map(id => (id, TrainingOps.syntheticFlacPayload(id))))
    // id 0: rate 8000, ch 1, bps 16, total 44100; v=10 p=5 a=20 -> n 85
    assert(out(0L) == (("ok", 3, 8000, 1, 16, 44100L, 20L, 85)))
    assert(out(1L)._1 == "not_flac")
    // truncated mid-vorbis: STREAMINFO fields survive (id 2: rate 16000,
    // ch 3, bps 16, total 44102), counts withheld
    assert(out(2L) == (("truncated", -1, 16000, 3, 16, 44102L, -1L, 49)))
    // first block not STREAMINFO: the spec's hard MUST
    assert(out(3L) == (("missing_streaminfo", -1, -1, -1, -1, -1L, -1L, 16)))
    // STREAMINFO wrong length (20 != 34)
    assert(out(4L) == (("malformed", -1, -1, -1, -1, -1L, -1L, 28)))
    // hand-built: STREAMINFO as the ONLY block (last flag set on it),
    // zero audio; fields at their bit-width maxima prove no cross-field
    // bleed: rate 2^20-1, 8 channels, 32 bps, total 2^36-1
    def mini(): Array[Byte] = {
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      bb ++= "fLaC".getBytes("US-ASCII")
      bb += 0x80.toByte; bb += 0; bb += 0; bb += 34
      (0 until 10).foreach(_ => bb += 0)
      val packed = (1048575L << 44) | (7L << 41) | (31L << 36) | ((1L << 36) - 1)
      (7 to 0 by -1).foreach(i => bb += ((packed >> (8 * i)) & 0xff).toByte)
      (0 until 16).foreach(_ => bb += 0)
      bb.toArray
    }
    val hb = run(Seq(90L -> mini(),
      // cut inside a block HEADER (2 of 4 bytes): truncated, no fields
      91L -> ("fLaC".getBytes("US-ASCII") ++ Array[Byte](0, 0))))
    assert(hb(90L) == (("ok", 1, 1048575, 8, 32, (1L << 36) - 1, 0L, 42)))
    assert(hb(91L) == (("truncated", -1, -1, -1, -1, -1L, -1L, 6)))
    val rnd = new scala.util.Random(5151)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(90))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticFlacPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v.take(if (rnd.nextBoolean()) v.length else rnd.nextInt(v.length + 1))
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.flacBlocks(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "not_flac", "truncated",
      "missing_streaminfo", "malformed")))
  }

  test("gif blocks: family split, zero-data frame, 255 sub-block, trailer tail, mid-chain cut, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.gifBlocks(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1 else r.getInt(2), if (r.isNullAt(3)) -1 else r.getInt(3),
          if (r.isNullAt(4)) -1 else r.getInt(4), if (r.isNullAt(5)) -1 else r.getInt(5),
          if (r.isNullAt(6)) -1 else r.getInt(6), r.getInt(7)))).toMap
    val out = run((0L to 4L).map(id => (id, TrainingOps.syntheticGifPayload(id))))
    // id 0: s=0 g=6, k=1, m=1, d=1 -> n = 22+6+14 = 42; subs = GCE 1 + 1
    assert(out(0L) == (("ok", 100, 80, 1, 1, 2, 42)))
    assert(out(1L)._1 == "not_gif")
    // truncated inside the color table: dims survive, counts withheld
    assert(out(2L) == (("truncated", 102, 82, -1, -1, -1, 16)))
    // malformed after frame 1: pre-fault tallies kept (m=2, d=4 -> subs 3)
    assert(out(3L) == (("malformed", 103, 83, 1, 1, 3, 53)))
    // GIF87a family: no color table, no extensions
    assert(out(4L) == (("ok", 104, 84, 1, 0, 1, 32)))
    // hand-built: header + LSD (no GCT), then frame variants
    def gif(body: Array[Byte]): Array[Byte] =
      "GIF89a".getBytes("US-ASCII") ++
        Array[Byte](10, 0, 20, 0, 0x00, 0, 0) ++ body
    val frameHead = Array[Byte](0x2c, 0, 0, 0, 0, 10, 0, 20, 0, 0, 8)
    // zero-data frame: immediate terminator -> 0 sub-blocks, still a frame
    val zf = gif(frameHead ++ Array[Byte](0, 0x3b))
    // one 255-byte sub-block then a 3-byte one: independent lengths, no
    // Ogg-style continuation semantics
    val big = gif(frameHead ++ (Array[Byte](-1) ++ Array.fill(255)('x'.toByte)) ++
      Array[Byte](3, 1, 2, 3, 0, 0x3b))
    // bytes after the trailer are ignored
    val tail = gif(frameHead ++ Array[Byte](0, 0x3b, 99, 98, 97))
    // extension cut mid-chain: truncated, the extension is NOT counted
    val cut = gif(Array[Byte](0x21, 0xfe.toByte, 5, 1, 2))
    val hb = run(Seq(10L -> zf, 11L -> big, 12L -> tail, 13L -> cut))
    assert(hb(10L) == (("ok", 10, 20, 1, 0, 0, zf.length)))
    assert(hb(11L) == (("ok", 10, 20, 1, 0, 2, big.length)))
    assert(hb(12L) == (("ok", 10, 20, 1, 0, 0, tail.length)))
    assert(hb(13L) == (("truncated", 10, 20, -1, -1, -1, cut.length)))
    val rnd = new scala.util.Random(2424)
    val fuzz = (0 until 150).map { i =>
      val base =
        if (i % 2 == 0) Array.fill(rnd.nextInt(90))(rnd.nextInt(256).toByte)
        else {
          val v = TrainingOps.syntheticGifPayload(rnd.nextInt(60).toLong)
          if (v.nonEmpty) v(rnd.nextInt(v.length)) =
            (v(rnd.nextInt(v.length)) ^ (1 << rnd.nextInt(8))).toByte
          v.take(if (rnd.nextBoolean()) v.length else rnd.nextInt(v.length + 1))
        }
      (1000L + i, base)
    }
    val statuses = TrainingOps.gifBlocks(sp, fuzz.toDF("doc_id", "payload"))
      .select("status").distinct().collect().map(_.getString(0)).toSet
    assert(statuses.subsetOf(Set("ok", "not_gif", "truncated", "malformed")))
  }

  test("tiff entries: dual endianness, inline/indirect split, exif pointer consumed, cycle, truncation, totality") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.tiffEntries(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3)) ->
          ((r.getString(1),
            if (r.isNullAt(4)) -1 else r.getInt(4),
            if (r.isNullAt(5)) -1 else r.getInt(5),
            if (r.isNullAt(6)) -1L else r.getLong(6),
            if (r.isNullAt(7)) -1L else r.getLong(7),
            if (r.isNullAt(8)) null else r.getString(8)))).toMap
    val out = run(Seq(
      0L -> TrainingOps.syntheticTiffPayload(0),   // II, inline + ASCII offset
      7L -> TrainingOps.syntheticTiffPayload(7),   // MM, SHORT width + RATIONAL
      8L -> TrainingOps.syntheticTiffPayload(8),   // EXIF sub-IFD + IFD1 chain
      3L -> TrainingOps.syntheticTiffPayload(3),   // pointer cycle
      4L -> TrainingOps.syntheticTiffPayload(4),   // not a tiff
      5L -> TrainingOps.syntheticTiffPayload(5),   // IFD past EOF
      100L -> Array.emptyByteArray,
      101L -> "II* ".getBytes("US-ASCII")))   // magic but no IFD offset
    // family 0: inline SHORTs + ASCII via offset (8 bytes > 4-byte field)
    assert(out((0L, 0, 0)) == (("ok", 256, 3, 1L, 640L, null)))
    assert(out((0L, 0, 1)) == (("ok", 257, 3, 1L, 480L, null)))
    assert(out((0L, 0, 2)) == (("ok", 271, 2, 8L, -1L, "camera0")))
    // family 1 (MM): inline SHORT read at SHORT width (not u32>>0), and
    // the RATIONAL's two halves: 158/2 = 79 = 72 + 7%10
    assert(out((7L, 0, 0)) == (("ok", 256, 3, 1L, 807L, null)))
    assert(out((7L, 0, 1)) == (("ok", 282, 5, 1L, 79L, null)))
    // family 2: EXIF pointer (tag 34665) consumed — IFD0 has ONE emitted
    // row; the sub-IFD surfaces as ifd=100, the chained IFD1 as ifd=1
    assert(out((8L, 0, 0)) == (("ok", 256, 3, 1L, 1032L, null)))
    assert(!out.contains((8L, 0, 1)))
    assert(out((8L, 100, 0)) == (("ok", 34855, 3, 1L, 100L, null)))
    assert(out((8L, 1, 0)) == (("ok", 259, 3, 1L, 6L, null)))
    // family 3: next-IFD cycles back — malformed, parsed entry kept
    assert(out((3L, 0, 0)) == (("malformed", 256, 3, 1L, 558L, null)))
    // family 5: second entry runs past EOF — truncated, prefix kept
    assert(out((5L, 0, 0)) == (("truncated", 256, 3, 1L, 325L, null)))
    assert(out((4L, -1, -1))._1 == "not_tiff")
    assert(out((100L, -1, -1))._1 == "not_tiff")
    assert(out((101L, -1, -1))._1 == "not_tiff") // 4 bytes < 8-byte header
    // totality fuzz: random bytes and bit-flipped valid payloads never
    // throw — every outcome is a status, never an exception
    val rnd = new scala.util.Random(42)
    val fuzz = (0 until 300).map { i =>
      val base = TrainingOps.syntheticTiffPayload(i.toLong % 6)
      val mut =
        if (i % 3 == 0) { val a = new Array[Byte](rnd.nextInt(64)); rnd.nextBytes(a); a }
        else {
          val a = base.clone()
          if (a.nonEmpty) a(rnd.nextInt(a.length)) = rnd.nextInt(256).toByte
          a
        }
      (1000L + i, mut)
    }
    val fz = TrainingOps.tiffEntries(sp, fuzz.toDF("doc_id", "payload")).collect()
    assert(fz.map(_.getLong(0)).toSet == fuzz.map(_._1).toSet)
    assert(fz.forall(r => Set("ok", "not_tiff", "malformed", "truncated")(r.getString(1))))
  }

  test("blocklist hits: Aho-Corasick counts equal naive position scan; dictionary links, overlaps, case fold") {
    val sp = spark; import sp.implicits._
    def run(rows: Seq[(Long, String)], pats: Seq[String]) =
      TrainingOps.blocklistHits(sp, rows.toDF("doc_id", "text"), pats)
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    // the classic AC corpus: "ushers" fires she@4, he@4 (dictionary
    // suffix link at the SAME end position), hers@6; his never fires
    val classic = run(Seq(1L -> "ushers"), Seq("he", "she", "his", "hers"))
    assert(classic == Map((1L, "he") -> 1L, (1L, "she") -> 1L, (1L, "hers") -> 1L))
    // three-deep suffix chain: every "scan" also ends one "can" and one
    // "an"; "scant" does not break the chain mid-word
    val chain = run(Seq(2L -> "scan a scant scan"), Seq("an", "can", "scan"))
    assert(chain == Map((2L, "an") -> 3L, (2L, "can") -> 3L, (2L, "scan") -> 3L))
    // self-overlap counts every end position
    assert(run(Seq(3L -> "aaaa"), Seq("aa")) == Map((3L, "aa") -> 3L))
    // case-insensitive via the single pre-scan lower() on both sides
    assert(run(Seq(4L -> "The THE the"), Seq("the")) == Map((4L, "the") -> 3L))
    // pattern longer than the text yields no row, not an error
    assert(run(Seq(5L -> "ab"), Seq("abc")).isEmpty)
    // cross-word pattern: matching is raw substring, not word tokens
    assert(run(Seq(6L -> "table table table"), Seq("table table")) ==
      Map((6L, "table table") -> 2L))
    // differential vs an independent naive scan on random binary-alphabet
    // text, where nested and overlapping hits are dense
    val rnd = new scala.util.Random(42)
    val pats = Seq("a", "ab", "aba", "bb", "abab")
    val texts = (0 until 40).map(i => i.toLong -> (0 until 60).map(_ => if (rnd.nextBoolean()) 'a' else 'b').mkString)
    val got = run(texts, pats)
    val want = (for {
      (id, tx) <- texts; p <- pats
      n = (0 to tx.length - p.length).count(i => tx.regionMatches(i, p, 0, p.length))
      if n > 0
    } yield (id, p) -> n.toLong).toMap
    assert(got == want)
  }

  test("Kneser-Ney familiarity: half-count discount, continuation mass, pruned backoff, sample terciles") {
    val sp = spark; import sp.implicits._
    def h60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map("%02x".format(_)).mkString.take(15), 16)
    }
    // the full naive pipeline in plain Scala — every floor division in
    // the same order as the op and the oracle
    def naive(texts: Seq[(Long, String)]): Map[Long, (Int, Long, Long, Long, String)] = {
      val toks = texts.filter(_._2.nonEmpty)
        .map { case (id, t) => id -> t.trim.split("[ \\t\\n\\r\\f\\u000B]+").toSeq }
        .filter(_._2.size >= 2)
      val pl = toks.flatMap { case (id, w) => w.sliding(2).map(p => (id, p(0), p(1))) }
      val clr = pl.groupBy(p => (p._2, p._3)).view.mapValues(_.size.toLong).toMap
      val cL = clr.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
      val n1pL = clr.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
      val n1pR = clr.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
      val nTypes = clr.size.toLong
      val pcont = n1pR.view.mapValues(n => 1000000L * n / nTypes).toMap
      val pml = clr.collect { case ((l, r), c) if c >= 2 =>
        (l, r) -> (1000000L * (2 * c - 1) / (2 * cL(l))) }
      val perDoc = pl.groupBy(_._1).map { case (id, ps) =>
        val scores = ps.map { case (_, l, r) =>
          (pml.get((l, r)), pml.getOrElse((l, r), 0L) + n1pL(l) * pcont(r) / (2 * cL(l))) }
        id -> ((ps.size, scores.count(_._1.isEmpty).toLong, scores.map(_._2).sum))
      }
      val kn = perDoc.view.mapValues { case (n, _, s) => s / n }.toMap
      val samp = kn.filter { case (id, _) => h60(s"knq:$id") % 10 == 0 }
        .toSeq.sortBy { case (id, v) => (v, id) }
      val cuts = if (samp.isEmpty) None else {
        val n = samp.size
        Some((samp((n + 2) / 3 - 1)._2, samp((2 * n + 2) / 3 - 1)._2))
      }
      perDoc.map { case (id, (n, nb, s)) =>
        val b = cuts match {
          case Some((c1, c2)) =>
            if (kn(id) <= c1) "tail" else if (kn(id) <= c2) "middle" else "head"
          case None => "head"
        }
        id -> ((n, nb, s, kn(id), b))
      }
    }
    def run(texts: Seq[(Long, String)]) =
      TrainingOps.kneserNeyFamiliarity(texts.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) ->
          ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    // hand-computed corpus: c(a,b)=3 c(b,a)=2 survive the prune, the
    // three singletons take the backoff-only path; c(a)=4 c(b)=3 c(c)=1,
    // N1+(a.)=N1+(b.)=2, Pcont(a)=2/5, others 1/5
    val hand = Seq(1L -> "a b a b a c", 2L -> "a b x", 3L -> "c a",
      4L -> "z", 5L -> "")
    val out = run(hand)
    assert(out.keySet == Set(1L, 2L, 3L)) // <2-word docs carry no bigram evidence
    // d1: 2*625000+2*(500000+133333)+50000 where pml(a,b)=5000000//8,
    // pml(b,a)=3000000//6, backoff(a,.)=2*200000//8, backoff(b,a)=2*400000//6
    assert((out(1L)._1, out(1L)._2, out(1L)._3, out(1L)._4) == ((5, 1L, 2666666L, 533333L)))
    assert((out(2L)._1, out(2L)._2, out(2L)._3, out(2L)._4) == ((2, 1L, 741666L, 370833L)))
    assert((out(3L)._1, out(3L)._2, out(3L)._3, out(3L)._4) == ((1, 1L, 200000L, 200000L)))
    assert(out == naive(hand))
    // wider graded corpus: shared phrases + per-doc rare tails spread
    // kn_ppm so the sample terciles yield all three buckets; full
    // differential against the naive pipeline, then partitioning
    // invariance
    val wide = (0L until 40L).map { i =>
      val base = Seq.fill(3)("alpha beta gamma delta").mkString(" ")
      val noise = (0 until (i % 7).toInt).map(j => s"rare${i}_$j").mkString(" ")
      i -> s"$base $noise".trim
    }
    val w1 = run(wide)
    assert(w1 == naive(wide))
    assert(w1.values.map(_._5).toSet == Set("head", "middle", "tail"))
    val w2 = TrainingOps.kneserNeyFamiliarity(
        wide.toDF("doc_id", "text").repartition(7)).collect()
      .map(r => r.getLong(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(w2 == w1)
  }

  test("image dims: header parse honors declared lengths, endianness, fill bytes; error taxonomy") {
    val sp = spark; import sp.implicits._
    def parse(rows: Seq[(Long, Array[Byte])]) =
      TrainingOps.imageDims(sp, rows.toDF("doc_id", "payload")).collect()
        .map(r => r.getLong(0) -> ((r.getString(1),
          if (r.isNullAt(2)) -1 else r.getInt(2),
          if (r.isNullAt(3)) -1 else r.getInt(3), r.getString(4)))).toMap
    val gif87 = "GIF87a".getBytes("US-ASCII") ++ Array[Byte](0x20, 0x01, 0x40, 0x00)
    val jpegFull = TrainingOps.syntheticImagePayload(2) // fill byte (2%4==2), FF D8 in COM
    val jpegNoFill = TrainingOps.syntheticImagePayload(8) // no fill byte (8%4==0)
    val out = parse(Seq(
      0L -> TrainingOps.syntheticImagePayload(0), // png 16x16
      7L -> TrainingOps.syntheticImagePayload(7), // gif 23x23 (LE)
      2L -> jpegFull, // jpeg 18x18 — parses ONLY if the COM skips by length
      8L -> jpegNoFill, // jpeg 24x24
      3L -> TrainingOps.syntheticImagePayload(3), // png sig, IHDR never arrives
      4L -> TrainingOps.syntheticImagePayload(4), // plain text
      5L -> TrainingOps.syntheticImagePayload(5), // SOS before SOF
      100L -> gif87, // GIF87a variant accepted, 288x64
      101L -> jpegFull.take(12), // cut inside APP0: walk runs off the end
      102L -> Array.emptyByteArray,
      103L -> ("GIF89a".getBytes("US-ASCII") ++ Array[Byte](1, 0)))) // magic only
    assert(out(0L) == (("png", 16, 16, "ok")))
    assert(out(7L) == (("gif", 23, 23, "ok")))
    assert(out(2L) == (("jpeg", 18, 18, "ok")))
    assert(out(8L) == (("jpeg", 24, 24, "ok")))
    assert(out(3L) == (("png", -1, -1, "truncated")))
    assert(out(4L) == (("unknown", -1, -1, "unknown")))
    assert(out(5L) == (("jpeg", -1, -1, "malformed")))
    assert(out(100L) == (("gif", 288, 64, "ok")))
    assert(out(101L) == (("jpeg", -1, -1, "truncated")))
    assert(out(102L) == (("unknown", -1, -1, "unknown")))
    assert(out(103L) == (("gif", -1, -1, "truncated")))
  }

  test("anchor profile: counts, distinct sources, tie-broken top anchor") {
    val sp = spark; import sp.implicits._
    // host x: 3 inlinks from 2 hosts, 'news' wins 2-1; host y: tie
    // between 'alpha' and 'beta' (1 each) -> lexicographic 'alpha';
    // same src linking twice counts once in src_hosts but twice in
    // inlinks
    val edges = Seq(
      ("a", "x", "news"), ("b", "x", "news"), ("b", "x", "promo"),
      ("a", "y", "beta"), ("a", "y", "alpha"),
    ).toDF("src", "dst", "anchor")
    def run(df: org.apache.spark.sql.DataFrame) =
      graft.datapipe.GraphOps.anchorProfile(df).collect()
        .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getLong(4))))
        .toMap
    val out = run(edges)
    assert(out("x") == ((3L, 2L, "news", 2L)))
    assert(out("y") == ((2L, 1L, "alpha", 1L)))
    // aggregate-only plan: result independent of physical partitioning
    assert(run(edges.repartition(7)) == out)
  }

  test("corpus stats: tokens, vocab, hapax tail, top word") {
    val sp = spark; import sp.implicits._
    val docs = Seq((1L, "a b a c"), (2L, "a d"), (3L, "")).toDF("doc_id", "text")
    val r = graft.datapipe.TrainingOps.corpusStats(docs).collect()
    assert(r.length == 1)
    val row = r(0)
    // 2 non-empty docs, 6 tokens, vocab {a,b,c,d}, hapax {b,c,d}, top "a" x3
    assert((row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3),
      row.getString(4), row.getLong(5)) == ((2L, 6L, 4L, 3L, "a", 3L)))
  }

  test("hll distinct: duplicate-blind, merge row == direct sketch, partitioning-invariant, sane") {
    val d = docs
    val base = TrainingOps.hllDistinct(d).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    // the defining sketch property: duplicating the whole corpus changes nothing
    val doubled = TrainingOps.hllDistinct(d.union(d)).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(doubled == base)
    // registers are an aggregate: invariant to physical partitioning
    val reparted = TrainingOps.hllDistinct(d.repartition(7)).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(reparted == base)
    // the '*' row is a true sketch MERGE: max per register over the per-lang
    // sketches == the sketch computed directly over the undivided corpus
    val direct = TrainingOps.hllDistinct(d.withColumn("lang", lit("zz"))).collect()
      .map(r => r.getString(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3)))).toMap
    assert(direct("zz") == base("*") && direct("*") == base("*"))
    // raw-estimator sanity on the global row (n >> m regime): within 35%
    // of the exact distinct-shingle count (m=256 => sigma ~ 6.5%)
    val exact = d.filter(length(col("text")) >= 1)
      .select(split(trim(col("text")), "[ \\t\\n\\r\\f\\x0B]+").as("w"))
      .filter(size(col("w")) >= 3)
      .select(explode(transform(sequence(lit(0), size(col("w")) - 3),
        i => concat_ws(" ", slice(col("w"), i + 1, lit(3))))).as("g"))
      .agg(countDistinct("g")).collect()(0).getLong(0)
    val est = base("*")._3
    assert(math.abs(est - exact).toDouble / exact < 0.35,
      s"est=$est exact=$exact")
  }

  test("corpus datasheet: hand-computed scalars, dup counts empties, partitioning-invariant") {
    val sp = spark; import sp.implicits._
    // doc 2 exact-dups doc 1; doc 4 is empty (excluded from tokens/keep/
    // lang but still a dedup group member — the dup rate is over ALL rows)
    val docs = Seq(
      (1L, "en", "a b a c"), (2L, "en", "a b a c"),
      (3L, "de", "x y"), (4L, "de", "")).toDF("doc_id", "lang", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      TrainingOps.corpusDatasheet(d).collect()(0)
    val r = run(docs)
    // n_docs=3 non-empty, tokens 4+4+2, vocab {a,b,c,x,y}, 10 div 3 = 3;
    // dup groups over 4 rows = {"a b a c"x2, "x y", ""} -> 1/4 = 250000 ppm;
    // every doc fails the 50-word gate -> keep 0 ppm; en 2 > de 1
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) ==
      ((3L, 10L, 5L, 3L)))
    assert(r.getLong(4) == 250000L)
    assert(r.getLong(5) == 0L)
    assert((r.getString(6), r.getLong(7)) == (("en", 2L)))
    assert(run(docs.repartition(7)).toSeq == r.toSeq)
  }

  test("lang mix: per-paragraph votes, majority tie-break, mixed flag") {
    val sp = spark; import sp.implicits._
    // 8-word windows. doc 1: window 1 German, window 2 English -> mixed,
    // majority tie (1-1) breaks to 'de' (lang asc). doc 2: both windows
    // English -> not mixed.
    val de = "der die das und ist ein zu den"
    val en = "the a of and to in is it"
    val docs = Seq((1L, s"$de $en"), (2L, s"$en $en")).toDF("doc_id", "text")
    val out = graft.datapipe.TrainingOps.langMix(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))))
      .toMap
    assert(out(1L) == ((2L, 2L, "de", true)))
    assert(out(2L) == ((2L, 1L, "en", false)))
  }

  test("tfidf keywords: rare words outrank common, integer idf, ties by word") {
    val sp = spark; import sp.implicits._
    // "common" in all 4 docs (idf 1e6*4/4 = 1e6); "rare" only in doc 1
    // (idf 4e6). doc 1: rare(tf 1, score 4e6) > common(tf 3, score 3e6)
    val docs = Seq(
      (1L, "common common common rare"),
      (2L, "common x1 y1"), (3L, "common x2 y2"), (4L, "common x3 y3"),
    ).toDF("doc_id", "text")
    val out = graft.datapipe.TrainingOps.tfidfKeywords(docs, k = 2).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getString(2), r.getLong(3), r.getLong(4))))
      .toMap
    assert(out((1L, 1)) == (("rare", 1L, 4000000L)))
    assert(out((1L, 2)) == (("common", 3L, 3000000L)))
    // doc 2: x1/y1 tie at score 4e6 -> word asc; common (1e6) is cut at k=2
    assert(out((2L, 1)) == (("x1", 1L, 4000000L)))
    assert(out((2L, 2)) == (("y1", 1L, 4000000L)))
  }

  test("fuzzy decontamination: exact and near eval copies flagged, clones expand") {
    val sp = spark; import sp.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val docs = Seq(
      (7L, base),              // the eval doc
      (1L, base),              // exact copy in train: j = 1
      (4L, base),              // exact clone of 1: expands via md5 key
      (2L, base + " tailword"),// near copy: j = 38/39
      (3L, (1 to 40).map(i => s"z$i").mkString(" ")), // unrelated
    ).toDF("doc_id", "text")
    val out = graft.datapipe.TrainingOps
      .fuzzyDecontaminate(docs, col("doc_id") === 7, minJaccard = 0.6)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3))))
      .toMap
    assert(out.size == 4, s"eval docs never appear in the verdict: ${out.keySet}")
    assert(out(1L) == ((1L, 1.0, true)))
    assert(out(4L) == out(1L), "exact clone inherits its representative's verdict")
    assert(out(2L)._3 && out(2L)._2 < 1.0 && out(2L)._2 >= 0.9)
    assert(out(3L) == ((0L, 0.0, false)))
  }

  test("crawl frontier: crawled targets pruned, rule precedence, ref counts") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      ("https://a/doc/1", "https://b/promo/x"),
      ("https://a/doc/1", "https://b/"), ("https://a/doc/2", "https://b/"),
      ("https://a/doc/2", "https://b/"), // same src twice: 3 refs, 2 srcs
      ("https://a/doc/2", "https://c/privacy"),
      ("https://a/doc/1", "https://seen/"),
      ("https://a/doc/1", "http://d/promo/z"), // http spam must NOT slip past the rules
    ).toDF("src_url", "to_url")
    val crawled = Seq("https://seen/").toDF("url")
    val out = graft.datapipe.GraphOps.crawlFrontier(edges, crawled).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(4))))
      .toMap
    assert(out.size == 4, s"crawled target must be pruned: ${out.keySet}")
    assert(out("https://b/") == ((3L, 2L, "ok", true)))
    assert(out("https://b/promo/x") == ((1L, 1L, "spam_path", false)))
    assert(out("https://c/privacy") == ((1L, 1L, "nav_path", false)))
    assert(out("http://d/promo/z") == ((1L, 1L, "spam_path", false)))
  }

  test("bloom seen: zero false negatives, verdict partition, saturation-safe, partitioning-invariant") {
    val sp = spark; import sp.implicits._
    val crawled = (1 to 200).map(i => s"https://h$i/page").toDF("url")
    val cands = ((1 to 200 by 3).map(i => s"https://h$i/page") ++
      (1 to 400).map(i => s"https://new$i/x")).toDF("to_url")
    val out = graft.datapipe.GraphOps.bloomSeen(cands, crawled).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getString(3)))).toMap
    // bloom law: a crawled url ALWAYS hits (no false negatives, ever)
    assert(out.values.forall { case (_, _, v) => v != "false_negative" })
    assert(out.filter(_._2._2).values.forall { case (h, _, v) => h && v == "seen" })
    // uncrawled candidates partition into unseen / false_positive
    assert(out.filterNot(_._2._2).values.forall {
      case (h, _, v) => (h && v == "false_positive") || (!h && v == "unseen") })
    assert(out.count(_._2._2) == 67 && out.size == 467)
    // a deliberately SATURATED filter (64 bits, 200 urls) still obeys the
    // law: everything hits, uncrawled all become false positives
    val sat = graft.datapipe.GraphOps.bloomSeen(cands, crawled, mBits = 64).collect()
      .map(r => (r.getBoolean(1), r.getBoolean(2), r.getString(3)))
    assert(sat.forall(t => t._1) &&
      sat.forall(t => t._3 == (if (t._2) "seen" else "false_positive")))
    // filter bits are a bitwise-OR aggregate: invariant to partitioning
    val rep = graft.datapipe.GraphOps
      .bloomSeen(cands.repartition(7), crawled.repartition(5)).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getString(3)))).toMap
    assert(rep == out)
  }

  test("host boilerplate: host-conditioned threshold, per-doc-distinct df, unique lines survive") {
    val sp = spark; import sp.implicits._
    val docs = Seq(
      (1L, "a1 body\nFOOTER", "A"), (2L, "a2 body\nFOOTER", "A"),
      (3L, "a3 body\nRARE", "A"), (4L, "a4 body", "A"),
      (11L, "FOOTER", "A"), // all-boilerplate doc: strips to empty
      // same FOOTER string on host B sits at 1/4 = 25% < 30%: SURVIVES
      (5L, "b1 body\nFOOTER", "B"), (6L, "b2 body", "B"),
      (7L, "b3 body", "B"), (8L, "b4 body", "B"),
      // X twice in ONE doc: per-doc-distinct df = 1, must survive
      (9L, "X\nX\nc1 body", "C"), (10L, "c2 body", "C"),
    ).toDF("doc_id", "text", "source")
    def run(d: org.apache.spark.sql.DataFrame) =
      TrainingOps.hostBoilerplate(d).collect()
        .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    val out = run(docs)
    // host A: FOOTER df=3/5 (60%) -> stripped; RARE df=1 -> kept
    assert(out(1L) == ((2, 1, md5hex("a1 body"))))
    assert(out(3L) == ((2, 0, md5hex("a3 body\nRARE"))))
    assert(out(11L) == ((1, 1, md5hex(""))))
    // host B: the SAME string below B's threshold survives
    assert(out(5L) == ((2, 0, md5hex("b1 body\nFOOTER"))))
    // within-doc repetition does not inflate df
    assert(out(9L) == ((3, 0, md5hex("X\nX\nc1 body"))))
    assert(run(docs.repartition(7)) == out)
  }

  test("url canonicalization: www fold, fragment strip, tracking drop, param sort, variants collapse") {
    val sp = spark; import sp.implicits._
    val urls = Seq(
      (1L, "https://www.a.com/p?utm_source=x&b=2&a=1#frag"),
      (2L, "https://a.com/p?a=1&b=2&gclid=zz"), // permuted params, other tracker
      (3L, "https://a.com/p?a=1&b=2"),          // already canonical
      (4L, "https://a.com/p?utm_medium=m"),     // all params tracked: '?' drops
      (5L, "https://a.com/refuge?refresh=1"),   // ref= must not match ref-prefixed WORDS? (it may: 'ref=' only)
      (6L, "not a url at all"),                 // passthrough
    ).toDF("doc_id", "url")
    val out = graft.datapipe.GraphOps.canonicalizeUrls(urls).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getInt(3), r.getInt(4), r.getBoolean(5)))).toMap
    // three different raw variants collapse to ONE canonical key
    assert(out(1L) == (("https://a.com/p?a=1&b=2", 3, 2, true)))
    assert(out(2L) == (("https://a.com/p?a=1&b=2", 3, 2, true)))
    assert(out(3L) == (("https://a.com/p?a=1&b=2", 2, 2, false)))
    assert(out(4L) == (("https://a.com/p", 1, 0, true)))
    // 'refresh=1' does NOT start with 'ref=' — kept
    assert(out(5L) == (("https://a.com/refuge?refresh=1", 1, 1, false)))
    assert(out(6L) == (("not a url at all", 0, 0, false)))
  }

  test("rp project: linear map, deterministic, JL cosine preservation on real embeddings") {
    val sp = spark; import sp.implicits._
    val e = embs.limit(40).cache()
    val proj = TrainingOps.rpProject(e).collect()
      .groupBy(_.getLong(0))
      .map { case (id, rows) =>
        id -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    val orig = e.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val d = a.zip(b).map(p => p._1 * p._2).sum
      d / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    // linearity: proj(2v) == 2*proj(v) (up to the round(,6) on each side)
    val doubled = TrainingOps.rpProject(
      e.select(col("vec_id"), transform(col("embedding"), x => x * 2).as("embedding")))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rows) => id -> rows.sortBy(_.getInt(1)).map(_.getDouble(2)) }
    for (id <- proj.keys)
      proj(id).zip(doubled(id)).foreach { case (v, v2) =>
        assert(math.abs(v2 - 2 * v) < 1e-4, s"linearity broke at $id") }
    // JL: projected cosine tracks the original within ~1/sqrt(16)
    val ids = orig.keys.toSeq.sorted
    val errs = ids.sliding(2).collect { case Seq(a, b) =>
      math.abs(cos(orig(a), orig(b)) - cos(proj(a), proj(b))) }.toSeq
    val meanErr = errs.sum / errs.size
    assert(meanErr < 0.25, s"mean cosine error $meanErr")
    e.unpersist()
  }

  test("warc records: Content-Length walk (magic inside payload), byte offsets, multibyte, truncation, malformed") {
    val sp = spark; import sp.implicits._
    def md5b(b: Array[Byte]): String = java.security.MessageDigest
      .getInstance("MD5").digest(b).map("%02x".format(_)).mkString
    def rec(uri: String, payload: Array[Byte]): Array[Byte] =
      s"WARC/1.0\r\nWARC-Target-URI: $uri\r\nContent-Length: ${payload.length}\r\n\r\n"
        .getBytes("UTF-8") ++ payload ++ "\r\n\r\n".getBytes("UTF-8")
    val p1 = "WARC/1.0\r\nWARC-Target-URI: fake\r\n\r\ninner".getBytes("UTF-8")
    val p2 = "héllo wörld".getBytes("UTF-8") // 13 bytes, 11 chars
    val good = rec("https://a/1", p1) ++ rec("https://a/2", p2) ++
      rec("https://a/3", Array.emptyByteArray)
    val trunc = rec("https://b/1", p2) ++
      "WARC/1.0\r\nWARC-Target-URI: https://b/2\r\nContent-Length: 99\r\n\r\nshort"
        .getBytes("UTF-8")
    val mal = rec("https://c/1", Array.emptyByteArray) ++
      "GARBAGE\r\nno: headers\r\n\r\nrest".getBytes("UTF-8")
    val segs = Seq((1L, good), (2L, trunc), (3L, mal)).toDF("segment_id", "warc")
    val out = TrainingOps.warcRecords(sp, segs).collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.getString(2)), r.getInt(3), Option(r.getString(4)), r.getString(5))))
      .toMap
    val o1 = rec("https://a/1", p1).length.toLong
    val o2 = o1 + rec("https://a/2", p2).length
    // the embedded "WARC/1.0" inside p1 must NOT split the record
    assert(out.keys.count(_._1 == 1L) == 3)
    assert(out((1L, 0L)) == ((Some("https://a/1"), p1.length, Some(md5b(p1)), "ok")))
    assert(out((1L, o1)) == ((Some("https://a/2"), 13, Some(md5b(p2)), "ok")))
    assert(out((1L, o2)) == ((Some("https://a/3"), 0,
      Some(md5b(Array.emptyByteArray)), "ok")))
    // declared length overruns the segment: truncated, digest withheld
    assert(out((2L, rec("https://b/1", p2).length.toLong)) ==
      ((Some("https://b/2"), 99, None, "truncated")))
    // unparseable header: malformed, segment halts (boundary unknowable)
    assert(out((3L, rec("https://c/1", Array.emptyByteArray).length.toLong)) ==
      ((None, 0, None, "malformed")))
  }

  test("host table: crawled-unlinked gets rank 0, linked-uncrawled gets n_pages 0, anchor defaults") {
    val sp = spark; import sp.implicits._
    val edges = Seq(
      ("a", "b", "to b"), ("a", "b", "to b"), ("c", "b", "b rocks"),
      ("b", "d", "go d"), // d: linked but never crawled
    ).toDF("src", "dst", "anchor")
    val pages = Seq("a", "a", "b", "c", "lonely").toDF("host")
    val out = graft.datapipe.GraphOps.hostTable(edges, pages).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), Option(r.getString(5)), r.getLong(6)))).toMap
    assert(out.keySet == Set("a", "b", "c", "d", "lonely"))
    // crawled but not in the link graph: rank EXACTLY 0 (base > 0 for nodes)
    assert(out("lonely") == ((0L, 1L, 0L, 0L, None, 0L)))
    // linked but never crawled: ranked, zero pages
    assert(out("d")._1 > 0L && out("d")._2 == 0L)
    assert(out("d")._3 == 1L && out("d")._5 == Some("go d"))
    // b: 3 inlinks from 2 hosts, majority anchor
    assert(out("b")._2 == 1L && out("b")._3 == 3L && out("b")._4 == 2L &&
      out("b")._5 == Some("to b") && out("b")._6 == 2L)
    // a: source-only node is still ranked (graph node), no inlinks
    assert(out("a")._1 > 0L && out("a")._2 == 2L && out("a")._3 == 0L &&
      out("a")._5 == None)
  }

  test("group split: every group lands in exactly one split, fractions behave, degenerate ppm") {
    val sp = spark; import sp.implicits._
    val d = (1 to 2000).map(i => (i.toLong, s"g${i % 400}")).toDF("doc_id", "source")
    val out = TrainingOps.splitByGroup(d).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // leakage-freedom: a group never straddles splits
    assert(out.groupBy(_._2).values.forall(_.map(_._3).distinct.length == 1))
    // 10%/10% ppm over 400 groups: both eval splits materially populated
    val frac = out.groupBy(_._3).view.mapValues(_.length.toDouble / out.length).toMap
    assert(frac("train") > 0.7 && frac("val") > 0.03 && frac("test") > 0.03, s"$frac")
    // ppm 0/0: everything trains
    val all = TrainingOps.splitByGroup(d, valPpm = 0, testPpm = 0).collect()
    assert(all.forall(_.getString(2) == "train"))
  }

  test("self dedup: aligned and MISALIGNED block repeats collapse, clean doc untouched") {
    val sp = spark; import sp.implicits._
    val block = (0 until 8).map(i => s"b$i").mkString(" ")
    val docs = Seq(
      (1L, s"$block $block $block"),          // aligned: 3 identical windows
      (2L, s"p0 p1 p2 p3 $block $block $block $block"), // misaligned by 4
      (3L, (1 to 24).map(i => s"u$i").mkString(" ")),   // all distinct
    ).toDF("doc_id", "text")
    val out = TrainingOps.selfDedup(docs).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((3, 1, md5hex(block))))
    // misaligned: full windows inside the repeat span are equal ROTATIONS
    // of the block — repeats still collapse even off the /8 grid
    assert(out(2L)._1 == 5 && out(2L)._2 < 5)
    assert(out(3L) == ((3, 3, md5hex((1 to 24).map(i => s"u$i").mkString(" ")))))
  }

  test("unigram familiarity: OOV accounting and common-vs-rare ordering") {
    val sp = spark; import sp.implicits._
    // "the" x6, "cat" x3, "runs" x2, singletons: vocabSize=3 keeps {the, cat, runs}
    val df = Seq(
      (1L, "the cat runs"), (2L, "the cat runs"), (3L, "the cat the"),
      (4L, "the zebra quux"), (5L, "the xylo")
    ).toDF("doc_id", "text")
    val out = TrainingOps.unigramFamiliarity(df, vocabSize = 3).collect()
      .map(r => r.getLong(0) -> ((r.getInt(1), r.getLong(2), r.getLong(3), r.getDouble(4))))
      .toMap
    assert(out(1L) == ((3, 0L, 6L + 3L + 2L, 11.0 / 3)))
    assert(out(3L) == ((3, 0L, 6L + 3L + 6L, 5.0)))
    assert(out(4L) == ((3, 2L, 6L, 2.0))) // zebra/quux OOV contribute 0
    // all-common doc scores strictly above the mostly-rare doc
    assert(out(1L)._4 > out(4L)._4)
    // vocabulary is deterministic: same input twice, identical rows
    val again = TrainingOps.unigramFamiliarity(df, vocabSize = 3).collect()
      .map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(out.forall { case (id, (_, _, sf, _)) => again(id) == sf })
  }

  test("incremental dedup: exact flags, and exact even under a saturated bloom") {
    val sp = spark; import sp.implicits._
    val corpus = Seq((1L, "shared alpha"), (2L, "corpus only"), (3L, "shared beta"))
      .toDF("doc_id", "text")
    val inc = Seq(
      (10L, "shared alpha"),  // dup of corpus
      (11L, "brand new"),     // new, unique in batch
      (12L, "batch twin"),    // new, first of an in-batch pair
      (13L, "batch twin"),    // new, second of the pair
      (14L, "shared beta"),   // dup of corpus
      (15L, "shared beta")    // dup of corpus AND second in batch
    ).toDF("doc_id", "text")
    val expect = Map( // (dup_of_corpus, first_in_batch, keep)
      10L -> ((true, true, false)), 11L -> ((false, true, true)),
      12L -> ((false, true, true)), 13L -> ((false, false, false)),
      14L -> ((true, true, false)), 15L -> ((true, false, false)))
    def asMap(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(asMap(TrainingOps.incrementalDedup(inc, corpus)) == expect)
    // a deliberately undersized bloom (1 expected item, fpp 0.5 — a
    // couple of bits, saturated by 3 corpus inserts) floods the confirm
    // join with false positives — output must not change
    assert(asMap(TrainingOps.incrementalDedup(inc, corpus, 1L, 0.5)) == expect)
  }

  test("global shuffle: a permutation, ordered by key, invariant to partitioning") {
    val out = TrainingOps.globalShuffle(docs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val n = docs.count()
    assert(out.length == n)
    assert(out.map(_._3).sorted.sameElements(0L until n), "positions must be 0..n-1")
    // positions ordered by (shard, key): shard ids must be non-decreasing in pos
    val byPos = out.sortBy(_._3)
    assert(byPos.map(_._2).sliding(2).forall(w => w(0) <= w(1)),
      "shard must be monotone in position (shard = top bits of the sort key)")
    // repartitioning the input must not move anyone
    val re = TrainingOps.globalShuffle(docs.repartition(7)).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out.forall { case (id, _, pos) => re(id) == pos })
  }

  test("inverted index: bounded champion lists, exact df, partitioning-independent") {
    val out = TrainingOps.invertedIndex(docs, cap = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2)))
    assert(out.nonEmpty)
    // ground truth from a driver-side build
    val truth = docs.filter(length(col("text")) >= 1)
      .select(col("doc_id"), explode(split(trim(col("text")), "[ \\t\\n\\r\\f\\x0B]+")).as("word"))
      .distinct().collect().map(r => (r.getString(1), r.getLong(0)))
      .groupBy(_._1).map { case (wd, ps) => wd -> ps.map(_._2).sorted.toSeq }
    out.foreach { case (wd, df, postings) =>
      assert(df == truth(wd).size, s"df($wd)")
      assert(postings == truth(wd).take(8), s"postings($wd) must be the min-8 doc_ids")
    }
    // heap merge is order-independent: any input partitioning gives the
    // same champion lists
    val re = TrainingOps.invertedIndex(docs.repartition(13), cap = 8).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getSeq[Long](2))).sortBy(_._1)
    assert(re.toSeq == out.sortBy(_._1).toSeq)
    // the heaps combine BEFORE the shuffle: the imperative aggregate
    // plans as ObjectHashAggregate partial + final around one exchange
    val plan = TrainingOps.invertedIndex(docs, cap = 8)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"),
      s"min_k_longs must plan as ObjectHashAggregate (partial/final):\n$plan")
  }

  test("cms heavy hitters: identical to the plain formulation, even saturated") {
    val plain = TrainingOps.frequentNgrams(docs).orderBy("rk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(plain.nonEmpty)
    val cms = TrainingOps.cmsHeavyHitters(docs).orderBy("rk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(cms.toSeq == plain.toSeq, "sketch gating must be lossless")
    // width=1 saturates every counter to the stream length: every n-gram
    // becomes a candidate, and the exact count must STILL be right
    val sat = TrainingOps.cmsHeavyHitters(docs, depth = 2, width = 1)
      .orderBy("rk").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2)))
    assert(sat.toSeq == plain.toSeq, "a saturated sketch may cost, never corrupt")
  }

  test("pq codes: valid code range, nonnegative error, partitioning-invariant") {
    val out = TrainingOps.pqCodes(embs).collect()
      .map(r => (r.getLong(0), Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)),
        r.getDouble(5)))
    assert(out.nonEmpty)
    out.foreach { case (id, codes, err) =>
      assert(codes.forall(c => c >= 0 && c < 16), s"vec $id codes out of range: $codes")
      assert(err >= 0.0, s"vec $id negative quantization error")
    }
    assert(out.map(_._2).distinct.size > 1, "all vectors got one code word")
    val re = TrainingOps.pqCodes(embs.repartition(7)).collect()
      .map(r => (r.getLong(0), Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)),
        r.getDouble(5))).sortBy(_._1)
    assert(re.toSeq == out.sortBy(_._1).toSeq)
  }

  test("robots filter: longest match, allow-wins tie, root disallow, no-rule default") {
    val s = spark; import s.implicits._
    val urls = Seq(
      "https://a.com/cat/10", // /cat disallow beaten by longer /cat/1 allow
      "https://a.com/cat/3",  // /cat disallow wins over root
      "https://a.com/x",      // only root '/' matches -> disallowed
      "https://b.com/rel/1",  // exact tie /rel allow + /rel disallow -> allow wins
      "https://c.com/free",   // host without rules -> allowed
      "https://a.com")        // NO path: normalizes to "/" -> root disallow applies
      .toDF("to_url")
    val rules = Seq(
      ("a.com", "/cat", false), ("a.com", "/cat/1", true), ("a.com", "/", false),
      ("b.com", "/rel", true), ("b.com", "/rel", false))
      .toDF("host", "prefix", "allow")
    val out = graft.datapipe.GraphOps.robotsFilter(urls, rules).collect()
      .map(r => r.getString(0) -> r.getBoolean(1)).toMap
    assert(out == Map(
      "https://a.com/cat/10" -> true, "https://a.com/cat/3" -> false,
      "https://a.com/x" -> false, "https://b.com/rel/1" -> true,
      "https://c.com/free" -> true, "https://a.com" -> false), s"got $out")
  }

  test("politeness schedule: budget cap, in-degree priority, salt independence") {
    val s = spark; import s.implicits._
    val fr = Seq(
      ("https://a.com/p1", 5L, true), ("https://a.com/p2", 9L, true),
      ("https://a.com/p3", 9L, true), ("https://a.com/p4", 1L, true),
      ("https://a.com/p5", 7L, true), ("https://a.com/promo", 99L, false),
      ("https://b.com/only", 2L, true))
      .toDF("to_url", "n_refs", "allowed")
    def run(salt: Int) = graft.datapipe.GraphOps
      .politenessSchedule(fr, budget = 3, delayMs = 500L, salt = salt)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
      .toSet
    val out = run(salt = 8)
    // a.com keeps top-3 by (n_refs DESC, url): p2, p3 (9-refs tie broken
    // by url), p5; p1/p4 over budget; the disallowed url never schedules
    // regardless of its in-degree; b.com's singleton gets slot 0
    assert(out == Set(
      ("https://a.com/p2", "a.com", 0, 0L),
      ("https://a.com/p3", "a.com", 1, 500L),
      ("https://a.com/p5", "a.com", 2, 1000L),
      ("https://b.com/only", "b.com", 0, 0L)), s"got $out")
    // salt-independence: salt=1 collapses the two-stage to the plain
    // window; any salt must give identical slots
    assert(run(salt = 1) == out)
    assert(run(salt = 5) == out)
  }

  test("snapshot delta: all four statuses, hash-only diff semantics") {
    val s = spark; import s.implicits._
    val oldSnap = Seq(
      (1L, "same text"), (2L, "will change"), (3L, "disappears"))
      .toDF("doc_id", "text")
    val newSnap = Seq(
      (1L, "same text"), (2L, "has changed"), (4L, "brand new"))
      .toDF("doc_id", "text")
    val out = graft.datapipe.RelationalOps
      .snapshotDelta(oldSnap, newSnap, keyCol = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(1L -> "unchanged", 2L -> "changed",
      3L -> "gone", 4L -> "new"), s"got $out")
    // partitioning invariance: the verdict is a pure function of the key
    // join, not of physical layout
    val re = graft.datapipe.RelationalOps
      .snapshotDelta(oldSnap.repartition(7), newSnap.repartition(3), keyCol = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(re == out)
    // NULL payloads: presence decides new/gone (a null hash must not
    // masquerade as a missing key), and two null captures are unchanged
    val oN = Seq((10L, null.asInstanceOf[String]), (11L, "x"), (12L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val nN = Seq((10L, null.asInstanceOf[String]), (11L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val nu = graft.datapipe.RelationalOps
      .snapshotDelta(oN, nN, keyCol = "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(nu == Map(10L -> "unchanged", 11L -> "changed", 12L -> "gone"), s"got $nu")
  }

  test("substring dup: stride-1 windows catch spans disjoint chunks would miss") {
    val s = spark; import s.implicits._
    // docs 1 and 2 share an 8-word span at DIFFERENT offsets (0 vs 1) —
    // exactly the case d11's disjoint chunking misses; doc 3 is clean
    val d = Seq(
      (1L, "a b c d e f g h unique one two"),
      (2L, "x a b c d e f g h other tail"),
      (3L, "p q r s t u v w y z zz"))
      .toDF("doc_id", "text")
    val out = TrainingOps.substringDup(d, win = 8).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      (1L, 4, 1L, 250000L), (2L, 4, 1L, 250000L), (3L, 4, 0L, 0L)))
    // within-doc repetition alone is NOT cross-doc duplication (t6's job)
    val self = TrainingOps.substringDup(
      Seq((1L, ("r s t u v w y z " * 3).trim)).toDF("doc_id", "text"), win = 8)
      .collect()(0)
    assert(self.getLong(2) == 0L, "self-repeats must not count as cross-doc dups")
  }

  test("adc top-k: ascending ranks, and code-mates sit at the probe's own quantization error") {
    val out = TrainingOps.adcTopK(embs).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(out.nonEmpty)
    out.groupBy(_._1).foreach { case (q, rs) =>
      val byRank = rs.sortBy(_._2)
      assert(byRank.map(_._2).toSeq == (1 to byRank.length), s"probe $q ranks not 1..k")
      val d = byRank.map(_._4)
      assert(d.zip(d.tail).forall { case (a, b) => a <= b }, s"probe $q adc not ascending")
      assert(!rs.exists(_._3 == q), s"probe $q matched itself")
    }
    // ADC identity: a candidate sharing the probe's codes is scored at
    // exactly the probe's own quantization error (distance to its own
    // reconstruction)
    val pq = TrainingOps.pqCodes(embs).collect()
      .map(r => r.getLong(0) -> ((Seq(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)),
        r.getDouble(5)))).toMap
    out.foreach { case (q, _, cand, adc) =>
      if (pq(cand)._1 == pq(q)._1)
        assert(math.abs(adc - pq(q)._2) < 1e-5,
          s"probe $q code-mate $cand: adc $adc != err ${pq(q)._2}")
    }
  }

  test("normalize: idempotent, and each rule fires on its dirty case") {
    val s = spark; import s.implicits._
    val dirty = Seq(
      "plain text stays",
      "curly “quotes” and ‘apostrophes’",
      "ctl\u0007chars\u001Fgone",
      "zero\u200Bwidth soft\u00ADhyphen",
      "  runs \t of\t\twhitespace  ",
      "\u201Ceverything\u201D \u0007 at\u200B  once\t ")
      .zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val once = dirty.select(col("doc_id"), TrainingOps.normalizeExpr(col("text")).as("t"))
    val twice = once.select(col("doc_id"), TrainingOps.normalizeExpr(col("t")).as("t"))
    assert(once.collect().map(_.getString(1)).toSeq ==
      twice.collect().map(_.getString(1)).toSeq,
      "a cleanup pass must be idempotent")
    val out = once.orderBy("doc_id").collect().map(_.getString(1))
    assert(out(0) == "plain text stays")
    assert(out(1) == "curly \"quotes\" and 'apostrophes'")
    assert(out(2) == "ctlcharsgone")
    assert(out(3) == "zerowidth softhyphen")
    assert(out(4) == "runs of whitespace")
    assert(out(5) == "\"everything\" at once")
  }

  test("quality classifier: centroid-difference weights separate the classes") {
    val s = spark; import s.implicits._
    // disjoint vocabularies (collision-checked below):
    //   pos tokens: alpha x3, beta x1  -> ppm 750000 / 250000
    //   neg tokens: gamma x3, delta x1 -> ppm 750000 / 250000 (negated)
    val b = (wd: String) => (BigInt(md5hex("qc:" + wd).substring(0, 15), 16) % 256).toInt
    assert(Seq("alpha", "beta", "gamma", "delta").map(b).distinct.size == 4,
      "test vocabulary must hash to distinct buckets")
    val d = Seq(
      (1L, "en", "alpha beta"), (2L, "en", "alpha alpha"),
      (3L, "de", "gamma delta"), (4L, "de", "gamma gamma"))
      .toDF("doc_id", "lang", "text")
    val out = TrainingOps.qualityClassifier(d).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(out.toSeq == Seq(
      (1L, 2, 1000000L, true), (2L, 2, 1500000L, true),
      (3L, 2, -1000000L, false), (4L, 2, -1500000L, false)))
  }

  test("bpe merges: greedy application, deterministic ties, weighted counts") {
    val s = spark; import s.implicits._
    // word freqs: aaaa x2, banana x3
    //   iter 1: (a,a)=6 ties (a,n)=6 and (n,a)=6 -> lexicographic (a,a);
    //           GREEDY application: aaaa -> (aa)(aa), NOT (a)(aa)(a)
    //   iter 2: (a,n)=6 beats (n,a)=6 lexicographically
    //   iter 3: banana = (b)(an)(an)(a): three pairs tie at 3 ->
    //           (an,a) < (an,an) < (b,an)
    val d = Seq((1L, "aaaa aaaa"), (2L, "banana banana banana"))
      .toDF("doc_id", "text")
    val m = TrainingOps.bpeMerges(d, nMerges = 3).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(m.toSeq == Seq((1, "a", "a", 6L), (2, "a", "n", 6L), (3, "an", "a", 3L)))
    // exhaustion guard: a corpus of single-letter words has no pairs
    val none = TrainingOps.bpeMerges(Seq((1L, "a b c")).toDF("doc_id", "text"), 2)
    assert(none.count() == 0)
    // non-[a-z] words never reach the symbol table
    val filtered = TrainingOps.bpeMerges(
      Seq((1L, "Hello WORLD 123 ok ok")).toDF("doc_id", "text"), 1).collect()
    assert(filtered.map(r => (r.getString(1), r.getString(2))).toSeq == Seq(("o", "k")))
    // application (p3 serving side): merges (a,a),(a,n),(an,a) tokenize
    //   aaaa   -> (aa)(aa)      = 2 tokens
    //   banana -> (b)(an)(ana)  = 3 tokens (greedy: (an)(a) matches the
    //             SECOND an — the first is followed by another an)
    val tok = TrainingOps.bpeTokenize(d, nMerges = 3).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    assert(tok.toSeq == Seq((1L, 2, 4L), (2L, 3, 9L)))
  }

  test("bpe merges: 256-merge vocabulary matches a pure-Scala reference (bounded lineage)") {
    val s = spark; import s.implicits._
    // A realistic merge count (256 = 8 localCheckpoint truncations of
    // the replace chain) against an independent driver-side greedy BPE
    // over the same weighted vocabulary — rank-for-rank equality pins
    // that lineage truncation never perturbs a single argmax.
    def toWord(seed: Long): String = {
      var x = seed; val sb = new StringBuilder
      var i = 0
      while (i < 6 + (seed % 5).toInt) {
        x = x * 6364136223846793005L + 1442695040888963407L
        sb.append(('a' + math.floorMod(x >>> 33, 26L).toInt).toChar)
        i += 1
      }
      sb.result()
    }
    val vocab = (0 until 400).map(i => (toWord(i.toLong), (i % 7 + 1).toLong))
    val text = vocab.flatMap { case (w, c) => Seq.fill(c.toInt)(w) }.mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val got = TrainingOps.bpeMerges(d, nMerges = 256).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))

    // reference: symbol lists, weighted pair counts, argmax by
    // (count desc, l asc, r asc), greedy left-to-right non-overlapping
    var words = vocab.groupBy(_._1).map { case (w, xs) =>
      (w.map(_.toString).toVector, xs.map(_._2).sum)
    }.toVector
    val ref = Vector.newBuilder[(Int, String, String, Long)]
    var k = 1
    var break = false
    while (k <= 256 && !break) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      for ((syms, c) <- words; j <- 0 until syms.length - 1)
        counts((syms(j), syms(j + 1))) = counts.getOrElse((syms(j), syms(j + 1)), 0L) + c
      if (counts.isEmpty) break = true
      else {
        val ((l, r), c) = counts.minBy { case ((l, r), c) => (-c, l, r) }
        ref += ((k, l, r, c))
        words = words.map { case (syms, cnt) =>
          val out = Vector.newBuilder[String]
          var j = 0
          while (j < syms.length) {
            if (j + 1 < syms.length && syms(j) == l && syms(j + 1) == r) {
              out += (l + r); j += 2
            } else { out += syms(j); j += 1 }
          }
          (out.result(), cnt)
        }
        k += 1
      }
    }
    val expect = ref.result()
    assert(got.length == expect.length, s"merge count ${got.length} vs ${expect.length}")
    got.zip(expect).foreach { case (g, e) => assert(g == e, s"rank ${e._1}: $g != $e") }
  }

  test("shard manifest: exact receipts, checksum invariant to partitioning and row order") {
    val s = spark; import s.implicits._
    // 6 docs x 2048 tokens at budget 4096 => shards of exactly 2 docs
    val d = (1L to 6L).map(i => (i, Seq.fill(2048)("x").mkString(" ")))
      .toDF("doc_id", "text")
    val out = TrainingOps.shardManifest(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    assert(out.keySet == Set(0L, 1L, 2L))
    Seq(0L, 1L, 2L).foreach { sh =>
      val (n, t, lo, hi, _) = out(sh)
      assert((n, t, lo, hi) == ((2L, 4096L, sh * 2 + 1, sh * 2 + 2)), s"shard $sh")
    }
    // checksum: xor of the two member hashes, order/partitioning-free
    def h(x: Long): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"sm:$x".getBytes("UTF-8")).map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    Seq(0L, 1L, 2L).foreach { sh =>
      assert(out(sh)._5 == (h(sh * 2 + 1) ^ h(sh * 2 + 2)), s"shard $sh checksum")
    }
    val re = TrainingOps.shardManifest(d.repartition(5).sortWithinPartitions(col("doc_id").desc))
      .collect().map(r => r.getLong(0) -> r.getLong(5)).toMap
    assert(re == out.view.mapValues(_._5).toMap,
      "checksums must survive repartition + reorder")
  }

  test("sq8: exact codes on a known grid, constant dims zero, residual within half a step") {
    val s = spark; import s.implicits._
    val emb = Seq(
      (1L, Seq(0.0f, 5.0f, -1.0f), 0),
      (2L, Seq(1.0f, 5.0f, 1.0f), 0),
      (3L, Seq(2.0f, 5.0f, 0.0f), 0)).toDF("vec_id", "embedding", "label")
    val out = TrainingOps.sq8Encode(emb).collect()
      .map(r => (r.getLong(0), r.getInt(1)) -> ((r.getInt(2), r.getDouble(3)))).toMap
    // dim 0 range [0,2]: 0 -> 0, 1 -> round(127.5) = 128 (HALF_UP), 2 -> 255
    assert(out((1L, 0))._1 == 0 && out((2L, 0))._1 == 128 && out((3L, 0))._1 == 255)
    // dim 1 constant: code 0, residual exactly +0.0
    Seq(1L, 2L, 3L).foreach { id =>
      assert(out((id, 1)) == ((0, 0.0)), s"constant dim for vec $id")
      assert(java.lang.Double.doubleToRawLongBits(out((id, 1))._2) == 0L,
        "constant-dim residual must be +0.0, not -0.0")
    }
    // dim 2 range [-1,1]: -1 -> 0, 0 -> 128, 1 -> 255
    assert(out((1L, 2))._1 == 0 && out((3L, 2))._1 == 128 && out((2L, 2))._1 == 255)
    // every residual within half a quantization step (+ round-6 slack)
    val steps = Map(0 -> 2.0 / 255, 1 -> 0.0, 2 -> 2.0 / 255)
    out.foreach { case ((id, d), (_, err)) =>
      assert(math.abs(err) <= steps(d) / 2 + 1e-6, s"vec $id dim $d err $err")
    }
    // exact endpoints reconstruct exactly
    assert(out((1L, 0))._2 == 0.0 && out((3L, 0))._2 == 0.0)
  }

  test("manifest diff: status ladder, absent-vs-zero-byte distinction, signed deltas") {
    val s = spark; import s.implicits._
    val prev = Seq(("a", 100L), ("b", 200L), ("c", 0L)).toDF("path", "bytes")
    val cur = Seq(("a", 100L), ("b", 260L), ("d", 50L)).toDF("path", "bytes")
    val out = TrainingOps.manifestDiff(prev, cur).collect()
      .map(r => r.getString(0) ->
        ((Option(r.get(1)), Option(r.get(2)), r.getString(3), r.getLong(4)))).toMap
    assert(out("a") == ((Some(100L), Some(100L), "unchanged", 0L)))
    assert(out("b") == ((Some(200L), Some(260L), "rewritten", 60L)))
    // a ZERO-byte file that disappears is removed with bytes_prev = 0 —
    // NOT confused with an absent side (NULL)
    assert(out("c") == ((Some(0L), None, "removed", 0L)))
    assert(out("d") == ((None, Some(50L), "added", 50L)))
    assert(out.size == 4)
  }

  test("vocab coverage: histogram-class cut equals hand-derived ranked cumsum") {
    val s = spark; import s.implicits._
    // counts: a=10, b=5, c=5, d=1 -> total 21
    val text = (Seq.fill(10)("a") ++ Seq.fill(5)("b") ++ Seq.fill(5)("c") ++ Seq("d"))
      .mkString(" ")
    val d = Seq((1L, text)).toDF("doc_id", "text")
    val got = TrainingOps.vocabCoverage(d, Seq(500, 715, 1000)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).sortBy(_._1)
    // pm=500: target ceil(10.5)=11 -> a(10) + ONE word of the 5-class = 2 words, 15 tokens
    // pm=715: target ceil(15.015)=16 -> a + both 5-class words = 3 words, 20 tokens
    // pm=1000: target 21 -> all 4 words
    assert(got.toSeq == Seq(
      (500, 11L, 2L, 15L), (715, 16L, 3L, 20L), (1000, 21L, 4L, 21L)))
    // empty corpus
    assert(TrainingOps.vocabCoverage(
      Seq.empty[(Long, String)].toDF("doc_id", "text")).count() == 0)
  }

  test("knn components: labels agree with a driver-side 4-round hash-min over the mutual edges") {
    val s = spark; import s.implicits._
    val edges = TrainingOps.mutualKnnSeeds(
      embs, embs.filter(col("vec_id") % 50 === 0), k = 3).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "sf0.001 seed graph should have mutual edges")
    val got = SparkEntry.queries("d38_knn_components")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // reference: the op's DOCUMENTED k-round hash-min semantics (labels
    // after exactly 4 min-over-neighbors rounds — NOT full union-find
    // convergence; a chain farther than 4 hops from its min keeps a
    // provisional label, the crawlDepth horizon convention the oracle
    // also pins)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val und = (edges ++ edges.map(e => (e._2, e._1))).distinct
    var lab = nodes.map(v => v -> v).toMap
    (1 to 4).foreach { _ =>
      val next = scala.collection.mutable.Map.empty[Long, Long] ++ lab
      und.foreach { case (a, b) =>
        if (lab(a) < next(b)) next(b) = lab(a)
      }
      lab = next.toMap
    }
    val byLabel = nodes.groupBy(lab)
    assert(got.map(_._1).sorted.toSeq == nodes.sorted.toSeq,
      "component rows must cover exactly the edge-touched seeds")
    got.foreach { case (v, comp, size) =>
      assert(comp == lab(v), s"seed $v label")
      assert(size == byLabel(lab(v)).length, s"seed $v size")
    }
  }

  test("ocr routing: density ladder with exact integer boundary, empty text layer") {
    val s = spark; import s.implicits._
    // pages * 120 chars is the boundary: exactly AT threshold stays on
    // the text layer (chars div pages < 120 is the needs_ocr test)
    val rows = Seq(
      ("u1", "x" * 240, 2),  // 120/page -> text_layer (boundary)
      ("u2", "x" * 239, 2),  // 119/page -> needs_ocr
      ("u3", "", 3),         // 0 chars  -> empty (not needs_ocr)
      ("u4", "x" * 600, 1))  // dense    -> text_layer
    val out = graft.spark.ExtractPipeline.ocrRouting(rows.toDF("url", "text", "pages"))
      .collect().map(r => r.getString(0) ->
        ((r.getInt(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out("u1") == ((2, 240L, 120L, "text_layer")))
    assert(out("u2") == ((2, 239L, 119L, "needs_ocr")))
    assert(out("u3") == ((3, 0L, 0L, "empty")))
    assert(out("u4") == ((1, 600L, 600L, "text_layer")))
  }

  test("mutual knn: the d24 cluster-representatives table IS a valid seeds argument") {
    // the documented at-scale wiring: dedup cluster reps (DF-bounded by
    // construction) as the kNN seed set — rep ids live in the same id
    // space as vec_id, so the rep table plugs in directly
    val seeds = TrainingOps.clusterRepresentatives(docs)
      .select(col("rep_id").as("vec_id"))
    val seedSet = seeds.collect().map(_.getLong(0)).toSet
    assert(seedSet.size >= 10, "sf0.001 should yield a real rep table")
    val out = TrainingOps.mutualKnnSeeds(embs, seeds, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(out.nonEmpty, "rep-seeded graph should have mutual edges")
    out.foreach { case (a, b) =>
      assert(a < b, "canonical order")
      assert(seedSet.contains(a) && seedSet.contains(b),
        s"edge ($a,$b) leaves the seed set")
    }
    graft.spark.Caches.drain()
  }

  test("mutual knn: caller-supplied seeds table drives membership (cluster-reps path)") {
    val s = spark; import s.implicits._
    // the seeds argument is the API: a DF-bounded representative table
    // (here an arbitrary 3-row list NOT matching any % rule, with a
    // duplicate + an id absent from the corpus — both must be harmless)
    val emb = Seq(
      (1L, Seq(1.0f, 0.0f), 0),
      (2L, Seq(0.99f, 0.14f), 0),
      (3L, Seq(0.7f, 0.7f), 0),
      (4L, Seq(-1.0f, 0.0f), 0)) // not in seeds: must be ignored
      .toDF("vec_id", "embedding", "label")
    val seeds = Seq(1L, 2L, 3L, 2L, 99L).toDF("vec_id")
    val out = TrainingOps.mutualKnnSeeds(emb, seeds, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getInt(4)))
    // top-1 of 1 is 2, of 2 is 1 (cos .99), of 3 is 2 -> only (1,2) mutual
    assert(out.toSeq == Seq((1L, 2L, 1, 1)), s"got ${out.toSeq}")
  }

  test("mutual knn: reciprocity strips hub-induced asymmetric edges") {
    val s = spark; import s.implicits._
    // demo seeds vec_id % 50 == 0; three seeds A(0), B(50), C(100):
    //   A=(1,0), B=(0.99,0.14), C=(0.7,0.7)
    //   top-1 of A is B, of B is A (cos .99), of C is B (cos .79)
    // => with k=1 the ONLY mutual edge is (A,B); C->B is asymmetric
    val emb = Seq(
      (0L, Seq(1.0f, 0.0f), 0),
      (50L, Seq(0.99f, 0.14f), 0),
      (100L, Seq(0.7f, 0.7f), 0),
      (7L, Seq(-1.0f, 0.0f), 0)) // non-seed: must be ignored entirely
      .toDF("vec_id", "embedding", "label")
    val demoSeeds = emb.filter(col("vec_id") % 50 === 0)
    val out = TrainingOps.mutualKnnSeeds(emb, demoSeeds, k = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(3), r.getInt(4)))
    assert(out.toSeq == Seq((0L, 50L, 1, 1)), s"got ${out.toSeq}")
    // k=2: C's list is {B, A}; B's is {A, C}; A's is {B, C} => all three
    // edges are mutual now — reciprocity is about LIST MEMBERSHIP, not rank
    val out2 = TrainingOps.mutualKnnSeeds(emb, demoSeeds, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out2 == Set((0L, 50L), (0L, 100L), (50L, 100L)))
  }

  test("host wilson: discounts small samples, never promotes lucky tiny hosts, verdict ladder") {
    val s = spark; import s.implicits._
    import graft.datapipe.GraphOps
    // lucky-tiny vs proven-large: 2/2 perfect vs 180/200
    val rows = Seq.fill(2)(("tiny", true)) ++
      Seq.fill(180)(("big", true)) ++ Seq.fill(20)(("big", false)) ++
      Seq.fill(10)(("half", true)) ++ Seq.fill(10)(("half", false))
    val out = GraphOps.hostWilson(rows.toDF("host", "ok")).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getString(4))))
      .toMap
    def wilson(ok: Long, n: Long): Double = {
      val nd = n.toDouble; val p = ok.toDouble / nd
      (p + 2.0 / nd - 2.0 * math.sqrt(p * (1.0 - p) / nd + 1.0 / (nd * nd))) / (1.0 + 4.0 / nd)
    }
    // bit-exact against the same scala-side IEEE evaluation order
    assert(out("big")._3 == wilson(180, 200))
    assert(out("tiny")._3 == wilson(2, 2))
    // THE motivating property: raw rate 1.0 > 0.9, but the bound inverts
    assert(out("tiny")._3 < out("big")._3,
      "2/2 must rank below 180/200 by the lower bound")
    // bound is always below the raw rate, and monotone in n at fixed rate
    assert(out("half")._3 < 0.5)
    assert(wilson(20, 40) > wilson(10, 20))
    assert(wilson(2, 4) < wilson(200, 400))
    // verdicts: n<8 flags low_sample regardless of rate
    assert(out("tiny")._4 == "low_sample")
    assert(out("big")._4 == "trusted")
    assert(out("half")._4 == "suspect")
  }

  test("burst windows: 3x-own-average flag, exact integer ratio, boundary events, uniform host quiet") {
    val s = spark; import s.implicits._
    import graft.datapipe.GraphOps
    val base = 1767225600L // epoch seconds, divisible by 600
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    // host a: 4 uniform windows of 5 events; host b: 3 windows of 2 + one
    // spike window of 30 (avg 9, ratio 30/9 = 3.33x > 3x)
    val a = (0 until 4).flatMap(wi => (0 until 5).map(j => ("a", ts(base + wi * 600 + j))))
    val b = (0 until 3).flatMap(wi => (0 until 2).map(j => ("b", ts(base + wi * 600 + j)))) ++
      (0 until 30).map(j => ("b", ts(base + 3 * 600 + j)))
    // boundary: an event at exactly base+600 belongs to window 2, not 1
    val out = GraphOps.burstWindows((a ++ b).toDF("host", "ts")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val byKey = out.map(t => (t._1, t._2) -> ((t._3, t._4, t._5))).toMap
    // host a: every window exactly at its average => ratio 1e6, no burst
    (0 until 4).foreach { wi =>
      assert(byKey(("a", base + wi * 600)) == ((5L, 1000000L, false)), s"a w$wi")
    }
    // host b: total 36 over 4 windows; quiet = 2*4e6/36 = 222222; spike =
    // 30*4e6/36 = 3333333 > 3e6 => burst
    (0 until 3).foreach { wi =>
      assert(byKey(("b", base + wi * 600)) == ((2L, 222222L, false)), s"b w$wi")
    }
    assert(byKey(("b", base + 3 * 600)) == ((30L, 3333333L, true)))
    // boundary pin: one event at base+600 exactly
    val o2 = GraphOps.burstWindows(
      Seq(("c", ts(base)), ("c", ts(base + 599)), ("c", ts(base + 600)))
        .toDF("host", "ts")).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(o2.toSeq == Seq((base, 2L), (base + 600, 1L)))
    // FLOOR convention on pre-1970 epochs: events at -1 s and -600 s both
    // land in window -600, NOT in a truncation-collapsed window 0; an
    // event at +1 s stays in window 0 (same fix as partitionEvolutionPlan)
    val o3 = GraphOps.burstWindows(
      Seq(("d", ts(-1L)), ("d", ts(-600L)), ("d", ts(1L)))
        .toDF("host", "ts")).collect()
      .map(r => (r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(o3.toSeq == Seq((-600L, 2L), (0L, 1L)), s"got ${o3.toSeq}")
  }

  test("skipgram pairs: window fanout, canonical order, self-pairs, minCount prune") {
    val s = spark; import s.implicits._
    // "z y x": d1 -> {y,z},{x,y}; d2 -> {x,z}. "w w w": three {w,w}
    // pairs (2 adjacent + 1 skip). "solo": no pairs (len < 2).
    val d = Seq((1L, "z y x"), (2L, "w w w"), (3L, "solo"))
      .toDF("doc_id", "text")
    val got = TrainingOps.skipgramPairs(d, window = 2, minCount = 1).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).sortBy(t => (t._1, t._2))
    assert(got.toSeq == Seq(("w", "w", 3L), ("x", "y", 1L), ("x", "z", 1L), ("y", "z", 1L)))
    // minCount prunes
    val pruned = TrainingOps.skipgramPairs(d, window = 2, minCount = 2).collect()
    assert(pruned.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("w", "w", 3L)))
    // window 1 degenerates to adjacent bigrams only
    val w1 = TrainingOps.skipgramPairs(d, window = 1, minCount = 1).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(w1 == Set(("w", "w"), ("x", "y"), ("y", "z")))
  }

  test("jsonl shard payloads: escape chain, doc order, byte-exact reconstruction") {
    val s = spark; import s.implicits._
    val hostile = "a\"b\\c\nd\re\tf\b g\fh\u0001\u001f"
    val d = Seq((1L, "plain words here"), (2L, hostile), (3L, "x y"))
      .toDF("doc_id", "text")
    val out = TrainingOps.jsonlShardPayloads(d, budget = 1000000L).collect()
    assert(out.length == 1, "one big budget -> one shard")
    val r = out.head
    def esc(t: String) = TrainingOps.jsonStringEscapes.foldLeft(t) {
      case (x, (a, b)) => x.replace(a, b)
    }
    val expected = Seq(1L -> "plain words here", 2L -> hostile, 3L -> "x y")
      .map { case (i, t) => s"""{"id":$i,"text":"${esc(t)}"}""" }
      .mkString("", "\n", "\n")
    val mdRef = java.security.MessageDigest.getInstance("MD5")
      .digest(expected.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(r.getLong(1) == 3L)
    assert(r.getLong(2) == expected.getBytes("UTF-8").length.toLong)
    assert(r.getString(3) == mdRef, "payload bytes diverge from the reference serialization")
    // every emitted line is valid JSON by the m29 validator
    expected.stripSuffix("\n").split("\n", -1)
      .foreach(l => assert(TrainingOps.jsonValid(l), s"invalid line: $l"))
    graft.spark.Caches.drain()
  }

  test("npy headers: both length branches, shape arities, ladder, and hand-crafted edge forms") {
    val s = spark; import s.implicits._
    val payloads = (0L until 25L).map(id => (id, TrainingOps.syntheticNpyPayload(id)))
      .toDF("doc_id", "payload")
    val rows = TrainingOps.npyHeaders(spark, payloads).collect()
      .map(r => r.getLong(0) -> r).toMap
    // family 0: v1.0 f8 (k0,k1) ok — id 0: k0=2,k1=1
    val r0 = rows(0L)
    assert(r0.getString(1) == "ok" && r0.getString(2) == "1.0" &&
      r0.getString(3) == "<f8" && !r0.getBoolean(4) && r0.getInt(5) == 2 &&
      r0.getLong(6) == 2L && r0.getInt(7) == 8 && r0.getLong(9) == 16L)
    // family 1: v2.0 uint32 length branch; family 5: 0-dim scalar
    assert(rows(1L).getString(2) == "2.0" && rows(1L).getString(1) == "ok")
    assert(rows(5L).getInt(5) == 0 && rows(5L).getLong(6) == 1L &&
      rows(5L).getString(1) == "ok")
    // ladder families
    assert(rows(2L).getString(1) == "not_npy" && rows(2L).isNullAt(2))
    assert(rows(3L).getString(1) == "short_data" && rows(3L).getLong(9) == 3L)
    assert(rows(4L).getString(1) == "truncated_header" &&
      !rows(4L).isNullAt(8) && rows(4L).isNullAt(3))
    // hand-crafted: bad version, garbage header dict, missing key, and
    // a NumPy-written header with keys in a different order (scanner
    // must not assume canonical order)
    val good = TrainingOps.syntheticNpyPayload(0L)
    val badVer = good.clone(); badVer(6) = 9.toByte
    val reordered = {
      val dict = "{'shape': (3,), 'fortran_order': True, 'descr': '<i2', }"
      val hlen = ((10 + dict.length + 1 + 63) / 64) * 64 - 10
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      bb += 0x93.toByte; bb ++= "NUMPY".getBytes("US-ASCII")
      bb += 1.toByte; bb += 0.toByte
      bb += (hlen & 0xff).toByte; bb += ((hlen >> 8) & 0xff).toByte
      bb ++= (dict + " " * (hlen - dict.length - 1) + "\n").getBytes("US-ASCII")
      (0 until 6).foreach(_ => bb += 1.toByte)
      bb.toArray
    }
    val garbage = {
      val bb = good.clone()
      bb(12) = '!'.toByte // corrupt the dict open brace region
      bb
    }
    // real-world dtypes where naive trailing-digit item sizes go wrong:
    // '<U4' is 16 bytes/element (UCS-4), '<M8[ns]' is 8 (bracketed unit)
    def handNpy(descr: String, dim: String, dataBytes: Int): Array[Byte] = {
      val dict = s"{'descr': '$descr', 'fortran_order': False, 'shape': ($dim,), }"
      val hlen = ((10 + dict.length + 1 + 63) / 64) * 64 - 10
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      bb += 0x93.toByte; bb ++= "NUMPY".getBytes("US-ASCII")
      bb += 1.toByte; bb += 0.toByte
      bb += (hlen & 0xff).toByte; bb += ((hlen >> 8) & 0xff).toByte
      bb ++= (dict + " " * (hlen - dict.length - 1) + "\n").getBytes("US-ASCII")
      (0 until dataBytes).foreach(_ => bb += 7.toByte)
      bb.toArray
    }
    val extra = Seq((100L, badVer), (101L, reordered), (102L, garbage),
      (103L, handNpy("<U4", "3", 48)), // 3 els x 16 B -> exact: ok
      (104L, handNpy("<U4", "3", 12)), // the naive trailing-4 size: SHORT
      (105L, handNpy("<M8[ns]", "5", 40)), // datetime64: 8 B after 'M'
      // overflow armor: a 100M+-byte dtype claim and a shape whose
      // product wraps a Long must read bad_header, never a wrapped 'ok'
      (106L, handNpy("<U999999999", "2", 10)),
      (107L, handNpy("<f8", "999999999999999999, 999999999999999999", 10)))
      .toDF("doc_id", "payload")
    val er = TrainingOps.npyHeaders(spark, extra).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(er(100L).getString(1) == "bad_version" && er(100L).getString(2) == "9.0")
    val rr = er(101L)
    assert(rr.getString(1) == "ok" && rr.getString(3) == "<i2" &&
      rr.getBoolean(4) && rr.getLong(6) == 3L && rr.getLong(9) == 6L)
    assert(er(102L).getString(1) == "bad_header")
    assert(er(103L).getString(1) == "ok" && er(103L).getInt(7) == 16)
    assert(er(104L).getString(1) == "short_data")
    assert(er(105L).getString(1) == "ok" && er(105L).getInt(7) == 8)
    assert(er(106L).getString(1) == "bad_header")
    assert(er(107L).getString(1) == "bad_header")
  }

  test("npy headers: totality on random / magic-prefixed / bit-flipped payloads, taxonomy closed") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(11)
    val cases = (0 until 500).map { i =>
      val p = (i % 3: @unchecked) match {
        case 0 => val b = new Array[Byte](rnd.nextInt(120)); rnd.nextBytes(b); b
        case 1 =>
          val b = new Array[Byte](rnd.nextInt(100)); rnd.nextBytes(b)
          Array(0x93.toByte) ++ "NUMPY".getBytes("US-ASCII") ++ b
        case 2 =>
          val b = TrainingOps.syntheticNpyPayload(i.toLong).clone()
          if (b.nonEmpty) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
      }
      (i.toLong, p)
    }
    val out = TrainingOps.npyHeaders(spark, cases.toDF("doc_id", "payload"))
    assert(out.count() == 500, "walker must be total — one row per payload")
    val sts = out.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(sts.subsetOf(Set("ok", "not_npy", "bad_version", "truncated_header",
      "bad_header", "short_data")), s"taxonomy leaked: $sts")
  }

  test("safetensors headers: families, per-tensor rows, ladder, and hand-crafted edge forms") {
    val s = spark; import s.implicits._
    val payloads = (0L until 25L).map(id => (id, TrainingOps.syntheticSafetensorsPayload(id)))
      .toDF("doc_id", "payload")
    val rows = TrainingOps.safetensorsHeaders(spark, payloads).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v.sortBy(r => Option(r.getAs[java.lang.Long]("off_begin")).map(_.toLong).getOrElse(-1L)) }
    // family 0 (id 0: k0=2,k1=1): two tensors tiling the buffer
    val f0 = rows(0L)
    assert(f0.length == 2)
    assert(f0(0).getString(1) == "ok" && f0(0).getString(2) == "emb" &&
      f0(0).getString(3) == "F32" && f0(0).getInt(4) == 2 &&
      f0(0).getLong(5) == 2L && f0(0).getInt(6) == 4 &&
      f0(0).getLong(7) == 0L && f0(0).getLong(8) == 8L)
    assert(f0(1).getString(2) == "ids" && f0(1).getString(3) == "I64" &&
      f0(1).getLong(7) == 8L && f0(1).getLong(8) == 24L &&
      f0(1).getLong(10) == 24L)
    // ladder families
    assert(rows(1L).head.getString(1) == "ok" && rows(1L).head.getString(3) == "F16")
    assert(rows(2L).head.getString(1) == "bad_header_len" &&
      rows(2L).head.getLong(9) == 1004L && rows(2L).head.isNullAt(2))
    assert(rows(3L).head.getString(1) == "bad_json" && !rows(3L).head.isNullAt(9))
    assert(rows(4L).head.getString(1) == "bad_schema")
    assert(rows(5L).head.getString(1) == "short_data" &&
      rows(5L).head.getInt(4) == 0 && rows(5L).head.getLong(5) == 1L &&
      rows(5L).head.getLong(10) == 3L)
    // hand-crafted forms the families don't reach
    def hand(json: String, buf: Int, declared: Option[Long] = None): Array[Byte] = {
      val hlen = declared.getOrElse(((8L + json.length + 7) / 8) * 8 - 8)
      val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
      (0 until 8).foreach(i => bb += ((hlen >> (8 * i)) & 0xff).toByte)
      bb ++= (json + " " * (hlen.toInt - json.length).max(0)).getBytes("UTF-8")
      (0 until buf).foreach(_ => bb += 7.toByte)
      bb.toArray
    }
    val extra = Seq(
      (100L, Array[Byte](1, 2, 3)), // no 8-byte length prefix
      (101L, hand("{}", 0)), // zero tensors: legal, 'empty'
      // \u-escaped name decodes ("\u0077x" -> "wx"); keys inside the
      // tensor object reordered
      (102L, hand("{\"\\u0077x\":{\"shape\":[3],\"data_offsets\":[0,6],\"dtype\":\"F16\"}}", 6)),
      (103L, hand("""{"a":{"dtype":"Q7","shape":[1],"data_offsets":[0,1]}}""", 1)), // unknown dtype
      // gap between tensors (cover must tile from 0)
      (104L, hand("""{"a":{"dtype":"U8","shape":[2],"data_offsets":[0,2]},"b":{"dtype":"U8","shape":[2],"data_offsets":[3,5]}}""", 5)),
      // overlapping tensors
      (105L, hand("""{"a":{"dtype":"U8","shape":[4],"data_offsets":[0,4]},"b":{"dtype":"U8","shape":[4],"data_offsets":[2,6]}}""", 6)),
      // duplicate tensor name
      (106L, hand("""{"a":{"dtype":"U8","shape":[1],"data_offsets":[0,1]},"a":{"dtype":"U8","shape":[1],"data_offsets":[1,2]}}""", 2)),
      // metadata value not a string -> grammar failure
      (107L, hand("""{"__metadata__":{"k":5}}""", 0)),
      // trailing content after the top-level object
      (108L, hand("""{} {}""", 0)),
      // 64-bit declared length with the high bit set reads negative
      (109L, Array.fill[Byte](8)(0xff.toByte) ++ "{}".getBytes("UTF-8")),
      // shape-product overflow must be bad_schema, never a wrapped ok
      (110L, hand("""{"a":{"dtype":"F64","shape":[999999999999999999,999999999999999999],"data_offsets":[0,8]}}""", 8)),
      // empty-shape tensors at both rungs: scalar exact is ok
      (111L, hand("""{"a":{"dtype":"BF16","shape":[],"data_offsets":[0,2]}}""", 2)),
      // RFC-8259 object grammar: missing member comma and trailing
      // comma are both bad_json (the scanner must not be lenient)
      (112L, hand("""{"a":{"dtype":"U8","shape":[1],"data_offsets":[0,1]} "b":{"dtype":"U8","shape":[1],"data_offsets":[1,2]}}""", 2)),
      (113L, hand("""{"a":{"dtype":"U8","shape":[1],"data_offsets":[0,1]},}""", 1)),
      // non-ASCII numerals (U+0663) and leading zeros are not JSON
      (114L, hand("{\"a\":{\"dtype\":\"U8\",\"shape\":[٣],\"data_offsets\":[0,3]}}", 3)),
      (115L, hand("""{"a":{"dtype":"U8","shape":[07],"data_offsets":[0,7]}}""", 7)),
      // a zero-size tensor sharing its begin with a non-zero tensor is
      // a spec-valid gap-free cover regardless of tensor names
      (116L, hand("""{"a":{"dtype":"U8","shape":[4],"data_offsets":[0,4]},"z":{"dtype":"U8","shape":[0],"data_offsets":[4,4]},"b":{"dtype":"U8","shape":[4],"data_offsets":[4,8]}}""", 8)),
      // 19 digits that fit an int64 (Long.MaxValue): a valid number, and
      // a zero-size tensor, so ok
      (117L, hand("""{"a":{"dtype":"U8","shape":[9223372036854775807,0],"data_offsets":[0,0]}}""", 0)),
      // u64 max: grammar-valid, past int64 — the overflow rung
      (118L, hand("""{"a":{"dtype":"U8","shape":[18446744073709551615,0],"data_offsets":[0,0]}}""", 0)),
      (119L, hand("""{"a":{"dtype":"U8","shape":[1],"data_offsets":[0,9223372036854775808]}}""", 1)))
      .toDF("doc_id", "payload")
    val er = TrainingOps.safetensorsHeaders(spark, extra).collect()
      .groupBy(_.getLong(0)).map { case (k, v) => k -> v }
    assert(er(100L).head.getString(1) == "too_short")
    assert(er(101L).head.getString(1) == "empty" && er(101L).head.getLong(10) == 0L)
    val wx = er(102L).head
    assert(wx.getString(1) == "ok" && wx.getString(2) == "wx" &&
      wx.getString(3) == "F16" && wx.getLong(5) == 3L)
    assert(er(103L).head.getString(1) == "bad_schema")
    assert(er(104L).head.getString(1) == "bad_schema")
    assert(er(105L).head.getString(1) == "bad_schema")
    assert(er(106L).head.getString(1) == "bad_schema")
    assert(er(107L).head.getString(1) == "bad_json")
    assert(er(108L).head.getString(1) == "bad_json")
    assert(er(109L).head.getString(1) == "bad_header_len")
    assert(er(110L).head.getString(1) == "bad_schema")
    assert(er(111L).head.getString(1) == "ok" && er(111L).head.getInt(4) == 0)
    assert(er(112L).head.getString(1) == "bad_json")
    assert(er(113L).head.getString(1) == "bad_json")
    assert(er(114L).head.getString(1) == "bad_json")
    assert(er(115L).head.getString(1) == "bad_json")
    assert(er(116L).length == 3 && er(116L).forall(_.getString(1) == "ok"))
    assert(er(117L).head.getString(1) == "ok" && er(117L).head.getInt(4) == 2 &&
      er(117L).head.getLong(5) == 0L)
    assert(er(118L).head.getString(1) == "bad_schema")
    assert(er(119L).head.getString(1) == "bad_schema")
  }

  test("safetensors headers: totality on random / length-prefixed / bit-flipped payloads, taxonomy closed") {
    val s = spark; import s.implicits._
    val rnd = new scala.util.Random(13)
    val cases = (0 until 500).map { i =>
      val p = (i % 3: @unchecked) match {
        case 0 => val b = new Array[Byte](rnd.nextInt(120)); rnd.nextBytes(b); b
        case 1 =>
          // plausible length prefix over random bytes
          val body = new Array[Byte](rnd.nextInt(100)); rnd.nextBytes(body)
          val hlen = rnd.nextInt(120).toLong
          val bb = scala.collection.mutable.ArrayBuffer.empty[Byte]
          (0 until 8).foreach(j => bb += ((hlen >> (8 * j)) & 0xff).toByte)
          bb ++= body
          bb.toArray
        case 2 =>
          val b = TrainingOps.syntheticSafetensorsPayload(i.toLong).clone()
          if (b.nonEmpty) b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
          b
      }
      (i.toLong, p)
    }
    val out = TrainingOps.safetensorsHeaders(spark, cases.toDF("doc_id", "payload"))
    assert(out.select("doc_id").distinct().count() == 500,
      "walker must be total — at least one row per payload")
    val sts = out.select("status").distinct().collect().map(_.getString(0)).toSet
    assert(sts.subsetOf(Set("ok", "too_short", "bad_header_len", "bad_json",
      "bad_schema", "short_data", "empty")), s"taxonomy leaked: $sts")
  }

  test("tensor shard audit: all six rungs over the full-outer header/manifest join") {
    val s = spark; import s.implicits._
    // headers: shard 0 ok with tensors a,b; shard 1 bad_json; shard 2 ok
    // with extra tensor x; shard 3 ok but dtype drifted
    val headers = Seq(
      (0L, "ok", Option("a"), Option("F32"), Option(6L)),
      (0L, "ok", Option("b"), Option("I64"), Option(2L)),
      (1L, "bad_json", None: Option[String], None: Option[String], None: Option[Long]),
      (2L, "ok", Option("x"), Option("U8"), Option(4L)),
      (3L, "ok", Option("a"), Option("F16"), Option(6L)),
      (4L, "empty", None: Option[String], None: Option[String], None: Option[Long]))
      .toDF("doc_id", "status", "name", "dtype", "n_elems")
    // manifest: shard 0 expects a,b,c; shard 1 expects a; shard 3
    // expects a as F32; shard 4 is the legal zero-tensor file (readable
    // -> its expected tensor is MISSING, not unreadable); shard 9 has
    // no file at all
    val expected = Seq(
      (0L, "a", "F32", 6L), (0L, "b", "I64", 2L), (0L, "c", "F32", 1L),
      (1L, "a", "F32", 6L), (3L, "a", "F32", 6L), (4L, "a", "F32", 6L),
      (9L, "a", "F32", 6L))
      .toDF("shard", "name", "exp_dtype", "exp_elems")
    val out = TrainingOps.tensorShardAudit(headers, expected).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getString(7)).toMap
    assert(out((0L, "a")) == "consistent")
    assert(out((0L, "b")) == "consistent")
    assert(out((0L, "c")) == "missing_tensor")
    assert(out((1L, "a")) == "unreadable_shard")
    assert(out((2L, "x")) == "unexpected_tensor")
    assert(out((3L, "a")) == "shape_mismatch")
    assert(out((4L, "a")) == "missing_tensor")
    assert(out((9L, "a")) == "missing_shard")
    assert(out.size == 8)
    graft.spark.Caches.drain()
  }

  test("release audit: verdict ladder over the full-outer receipt join, NULL sides preserved") {
    val s = spark; import s.implicits._
    val man = Seq((0L, 5L, 100L, 11L), (1L, 3L, 50L, 12L), (3L, 7L, 70L, 13L))
      .toDF("shard", "n_docs", "n_tokens", "checksum")
    val pay = Seq((0L, 5L, 900L, "aa"), (1L, 4L, 400L, "bb"), (2L, 2L, 200L, "cc"))
      .toDF("shard", "n_docs", "n_bytes", "payload_md5")
    val rows = TrainingOps.releaseAudit(man, pay).collect()
    val verdicts = rows.map(r => r.getLong(0) -> r.getString(6)).toMap
    assert(verdicts == Map(0L -> "consistent", 1L -> "doc_count_mismatch",
      2L -> "missing_manifest", 3L -> "missing_payload"))
    // absent != zero: the missing side's columns stay NULL
    val m3 = rows.find(_.getLong(0) == 3L).get
    assert(m3.isNullAt(2) && m3.isNullAt(4) && m3.isNullAt(5))
    val m2 = rows.find(_.getLong(0) == 2L).get
    assert(m2.isNullAt(1) && m2.isNullAt(3))
  }

  test("budgeted schedule: quotas truncate politeness slots; zero-quota host drops out") {
    val s = spark; import s.implicits._
    val frontier = (
      (1 to 6).map(i => (s"https://a.com/$i", (10 - i).toLong, true)) ++
        (1 to 2).map(i => (s"https://b.com/$i", 1L, true)) ++
        Seq(("https://c.com/1", 1L, true), ("https://d.com/x", 99L, false))
    ).toDF("to_url", "n_refs", "allowed")
    // budget 3 over host weights a:6 b:2 c:1 (d not allowed), total 9:
    // base a=2/b=0/c=0, rems a=0/b=6/c=3, deficit 1 -> extra to b.
    // quotas (cap 2): a=2, b=1, c=0
    val out = graft.datapipe.GraphOps.budgetedSchedule(frontier, budget = 3L,
      slots = 4, maxPerHost = 2L).collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(4)))
    val byHost = out.groupBy(_._2)
    assert(byHost("a.com").map(_._1).toSet ==
      Set("https://a.com/1", "https://a.com/2"), "a keeps its top-2 by refs")
    assert(byHost("b.com").map(_._1).toSeq == Seq("https://b.com/1"),
      "b's single granted slot is its rank-1 url")
    assert(!byHost.contains("c.com"), "zero-quota host fetches nothing")
    assert(!byHost.contains("d.com"), "disallowed urls never scheduled")
    assert(out.forall(t => t._3 < t._4), "every kept slot sits below its quota")
    graft.spark.Caches.drain()
  }

  test("crawl budget: boundary remainder class spanning DISTINCT page counts picks by host alone") {
    // rem = (B*w) mod W collides across different page counts — with
    // B=4, W=10, weights 1 and 6 both land rem=4. The threshold pick
    // must resolve the tied class by host asc exactly as the old
    // orderBy(rem desc, host) did, regardless of the colliding counts.
    val s = spark; import s.implicits._
    val pages = (
      Seq.fill(1)("a.only") ++ Seq.fill(6)("b.heavy") ++ Seq.fill(3)("c.mid")
    ).map(Tuple1(_)).toDF("host")
    // base: a=0 (rem 4), b=2 (rem 4), c=1 (rem 2); deficit 1 -> the
    // rem-4 class {a (1 page), b (6 pages)} ties; host asc -> a wins
    val out = graft.datapipe.GraphOps.crawlBudget(pages, budget = 4L,
      maxPerHost = 100L).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getInt(3)))).toMap
    assert(out == Map("a.only" -> ((1L, 1)), "b.heavy" -> ((2L, 0)),
      "c.mid" -> ((1L, 0))), s"collision class mis-picked: $out")
    graft.spark.Caches.drain()
  }

  test("t61 -> m29 round-trip law: emitted shards re-parse line-exact from the other side") {
    // the two ops implement the JSONL convention from opposite sides
    // (t61 writes, m29 reads); this law pins the shared convention —
    // escaping, newline framing, trailing-newline — against drift, the
    // same way the e16/e15 render/parse round-trip pins hOCR. Corpus
    // includes EVERY control char, quote/backslash storms, and
    // multi-byte unicode (astral included).
    val s = spark; import s.implicits._
    val allCtl = (0 until 0x20).map(_.toChar).mkString
    val corpus = Seq(
      (1L, "plain words here and more of them"),
      (2L, "ctl " + allCtl + " end"),
      (3L, "q\"q \\\\ tail\\"),
      (4L, "unicode é 中文 😀 mix"),
      (5L, "\\n literal backslash-n vs real\nnewline"),
      (6L, "x"),
    )
    val d = corpus.toDF("doc_id", "text")
    val assembled = TrainingOps.jsonlShardsAssembled(d, budget = 8L)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    assert(assembled.count() >= 2, "budget=8 must split this corpus into shards")
    // feed the exact payload BYTES back through the read side
    val records = TrainingOps.jsonlRecords(spark,
      assembled.select(col("shard").as("doc_id"),
        encode(col("payload"), "UTF-8").as("payload"))).collect()
      .map(r => (r.getLong(0), r.getString(4), r.getInt(5), r.getString(6)))
    // law 1: every emitted line is a VALID json object (no blanks, no
    // truncations — the full-escape chain is what makes this hold for
    // the control-char doc)
    records.foreach { case (sh, kind, valid, _) =>
      assert(kind == "object" && valid == 1, s"shard $sh emitted a bad line")
    }
    // law 2: per-shard record count == the shard's declared n_docs
    val declared = assembled.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val counted = records.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    assert(counted == declared, s"framing drift: declared=$declared counted=$counted")
    // law 3: doc ids round-trip — the per-line md5s ARE the md5s of the
    // locally re-serialized (shard, doc) lines, shard by shard
    val shardOf = TrainingOps.tokenShards(d, budget = 8L)
      .select("doc_id", "shard").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    def esc(t: String) = TrainingOps.jsonStringEscapes.foldLeft(t) {
      case (x, (a, b)) => x.replace(a, b)
    }
    val expByShard = corpus
      .map { case (id, t) =>
        shardOf(id) -> md5hex(s"""{"id":$id,"text":"${esc(t)}"}""")
      }
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val gotByShard = records.groupBy(_._1).view
      .mapValues(_.map(_._4).sorted.toSeq).toMap
    assert(gotByShard == expByShard, "line payloads diverge from the reference serialization")
    assembled.unpersist(blocking = false)
    graft.spark.Caches.drain()
  }

  test("json validator: full grammar, strictness, whole-input rule") {
    import TrainingOps.jsonValid
    // valid: every value type, nesting, escapes incl \uXXXX, numbers
    for (s <- Seq("{}", "[]", "null", "true", "false", "0", "-0.5", "1e9",
        "-2.5E-3", "\"\"", "\"a\\\"b\\\\c\\u0041\\n\"", "[1,[2,[3]]]",
        "{\"a\":{\"b\":[null,{\"c\":false}]}}", "  {\"x\" : 1 }\t"))
      assert(jsonValid(s), s"should be valid: $s")
    // invalid: truncation, trailing garbage, bad escapes/numbers,
    // unquoted keys, unicode digits, control chars in strings
    for (s <- Seq("", "{", "[1,", "{\"a\":}", "{a:1}", "01", "1.", ".5",
        "1e", "+1", "\"\\x\"", "\"\\u12\"", "\"ab", "nul", "tru", "{} {}",
        "[1] x", "\"a\nb\"", "\u0661")) // U+0661 ARABIC-INDIC ONE
      assert(!jsonValid(s), s"should be invalid: $s")
  }

  test("jsonl records: framing independent of validity, EOF line, blanks counted") {
    val s = spark; import s.implicits._
    val payloads = (0L until 25L).map(id => (id, TrainingOps.syntheticJsonlPayload(id)))
      .toDF("doc_id", "payload")
    val rows = TrainingOps.jsonlRecords(spark, payloads).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getInt(5)))
    val byDoc = rows.groupBy(_._1)
    // id=0 (f0): sl=1, k0=5,k1=6,k2=7 -> lens 23,24,25; offs 0,24,49
    assert(byDoc(0L).sortBy(_._2).map(t => (t._3, t._4, t._5, t._6)).toSeq ==
      Seq((0L, 23L, "object", 1), (24L, 24L, "object", 1), (49L, 25L, "object", 1)))
    // id=1 (f1): middle line truncated -> invalid, framing continues
    val d1 = byDoc(1L).sortBy(_._2).map(t => (t._5, t._6)).toSeq
    assert(d1 == Seq(("object", 1), ("object", 0), ("object", 1)))
    // id=2 (f2): final line has no trailing newline, still a line
    assert(byDoc(2L).length == 2 && byDoc(2L).forall(_._6 == 1))
    // id=3 (f3): escape-heavy object + array line, both valid
    assert(byDoc(3L).sortBy(_._2).map(t => (t._5, t._6)).toSeq ==
      Seq(("object", 1), ("array", 1)))
    // id=4 (f4): blank line counted, not a record
    assert(byDoc(4L).sortBy(_._2).map(t => (t._5, t._6)).toSeq ==
      Seq(("object", 1), ("blank", 0), ("object", 1)))
    // totality on junk
    val junk = Seq((9L, "not\njson {at\u0000all\n\n".getBytes("UTF-8")))
      .toDF("doc_id", "payload")
    val jr = TrainingOps.jsonlRecords(spark, junk).collect()
    assert(jr.length == 3 && jr.forall(_.getInt(5) == 0))
  }

  test("avro blocks: geometry, both map forms, sync flag-and-continue vs size halt") {
    val s = spark; import s.implicits._
    val payloads = (0L until 25L).map(id => (id, TrainingOps.syntheticAvroPayload(id)))
      .toDF("doc_id", "payload")
    val rows = TrainingOps.avroBlocks(spark, payloads).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        if (r.isNullAt(3)) -1 else r.getInt(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(7)) -1 else r.getInt(7)))
    val byDoc = rows.groupBy(_._1)
    // id=0 (f0): s0=10, s1=11 — blocks at 58 and 76+10=86, codec null
    assert(byDoc(0L).sortBy(_._4).toSeq == Seq(
      (0L, "ok", "null", 0, 58L, 1), (0L, "ok", "null", 1, 86L, 1)))
    // id=1 (f1): negative-count map form, header 62; s0=11 -> block1 at
    // 80+11=91 with the FLIPPED sync (flag, continue), block2 emitted
    val d1 = byDoc(1L).sortBy(_._4).toSeq
    assert(d1.map(t => (t._2, t._3, t._4, t._6)) == Seq(
      ("ok", "deflate", 0, 1), ("ok", "deflate", 1, 0), ("ok", "deflate", 2, 1)))
    assert(d1(0)._5 == 62L && d1(1)._5 == 91L)
    // id=2: not avro; id=3 (f3): block 0 kept, size-past-EOF halts;
    // id=4 (f4): truncated before the header sync, codec still parsed
    assert(byDoc(2L).toSeq == Seq((2L, "not_avro", null, -1, -1L, -1)))
    assert(byDoc(3L).map(t => (t._2, t._4)).toSeq == Seq(("truncated", 0)))
    assert(byDoc(4L).toSeq == Seq((4L, "truncated", "null", -1, -1L, -1)))
    // junk + empty are total
    val junk = Seq((100L, Array[Byte](1, 2)), (101L, Array.emptyByteArray))
      .toDF("doc_id", "payload")
    assert(TrainingOps.avroBlocks(spark, junk).collect()
      .forall(_.getString(1) == "not_avro"))
  }

  test("crawl budget: Hamilton apportionment is exact, deterministic, cap reports surplus") {
    val s = spark; import s.implicits._
    import graft.datapipe.GraphOps
    // counts 5/3/2, budget 7: bases 3/2/1 (sum 6), remainders 5/1/4 ->
    // the one leftover unit goes to hostA (rem 5)
    val pages = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c"))
      .toDF("host")
    val out = GraphOps.crawlBudget(pages, budget = 7L, maxPerHost = 100L).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getInt(3), r.getBoolean(4))))
      .toMap
    assert(out("a") == ((5L, 4L, 1, false)))
    assert(out("b") == ((3L, 2L, 0, false)))
    assert(out("c") == ((2L, 1L, 0, false)))
    // uncapped: the budget is spent EXACTLY
    assert(out.values.map(_._2).sum == 7L)
    // cap binds on the big host: quota truncates, surplus is reported
    val capped = GraphOps.crawlBudget(pages, budget = 7L, maxPerHost = 3L).collect()
      .map(r => r.getString(0) -> ((r.getLong(2), r.getBoolean(3 + 1)))).toMap
    assert(capped("a") == ((3L, true)))
    assert(capped("b") == ((2L, false)))
    graft.spark.Caches.drain()
  }

  test("cache lifecycle: Caches.drain releases every internally persisted frame") {
    val s = spark; import s.implicits._
    def cacheEmpty: Boolean = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty
    graft.spark.Caches.drain()
    spark.catalog.clearCache()
    assert(cacheEmpty, "precondition: suite cache not clean")
    // representative ops across the persist-heavy families (LSH band
    // tables, shingle sets, kNN ranked frames, BM25 hits) — a user
    // composing these in one session must be able to release ALL
    // internal caches with one drain(), no harness clearCache needed
    val ops: Seq[(String, () => Long)] = Seq(
      ("minhashPairs", () => TrainingOps.minhashPairs(docs).count()),
      ("jaccardVerify", () => TrainingOps.jaccardVerify(docs).count()),
      ("bm25TopK", () => TrainingOps.bm25TopK(docs, Seq("the", "lorem")).count()),
      ("mutualKnnSeeds", () => TrainingOps.mutualKnnSeeds(
        embs, embs.filter(col("vec_id") % 50 === 0)).count()),
      ("containmentVerify", () => TrainingOps.containmentVerify(docs).count()))
    for ((name, run) <- ops) {
      run()
      graft.spark.Caches.drain()
      assert(cacheEmpty, s"$name left cached frames after drain()")
      assert(graft.spark.Caches.tracked == 0)
    }
  }

  test("burst ratio arithmetic survives counts that would wrap a Long") {
    val s = spark; import s.implicits._
    // 1e6 * 5e9 * 4e9 = 2e25 wraps 2^63; the decimal(38,0) path stays exact
    val r = Seq((5000000000L, 4000000000L, 6000000000L))
      .toDF("n_events", "n_windows", "total")
      .select(expr("cast((cast(1000000 as decimal(38,0)) * n_events * n_windows) div total as bigint)"))
      .head.getLong(0)
    assert(r == 3333333333333333L, s"got $r")
  }

  test("ocr routing: pages <= 0 or NULL routes to 'invalid', never the cheap text_layer branch") {
    val s = spark; import s.implicits._
    val rows = Seq(("u1", "x" * 500, Some(0)), ("u2", "x" * 500, None),
      ("u3", "x" * 500, Some(-2)), ("u4", "x" * 500, Some(1)))
    val out = graft.spark.ExtractPipeline.ocrRouting(rows.toDF("url", "text", "pages"))
      .collect().map(r => r.getString(0) ->
        ((if (r.isNullAt(3)) -1L else r.getLong(3), r.getString(4)))).toMap
    assert(out("u1") == ((-1L, "invalid")))
    assert(out("u2") == ((-1L, "invalid")))
    assert(out("u3") == ((-1L, "invalid")))
    assert(out("u4") == ((500L, "text_layer")))
  }

  test("bm25: exact integer formula, rarity and tf monotone, non-matching docs excluded, doc_id tie-break") {
    val s = spark; import s.implicits._
    // corpus: "rare" df=1, "common" df=4; doc 5 has no query term
    val d = Seq(
      (1L, "rare common pad pad"),          // tf(rare)=1, tf(common)=1, dl=4
      (2L, "pad is filler common common"),  // tf(common)=2, dl=5
      (3L, "common pad pad pad"),           // tf(common)=1, dl=4
      (4L, "common pad pad pad"),           // identical to 3 => tie on score
      (5L, "pad pad pad pad")).toDF("doc_id", "text")
    val got = TrainingOps.bm25TopK(d, Seq("rare", "common"), k = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // reference: n=5, tot=21, av=21/5=4
    val n = 5L; val av = 4L
    def contrib(tf: Long, dl: Long, df: Long): Long =
      ((1000 * (n - df + 1)) / (df + 1)) * (44 * tf * av) /
        (20 * tf * av + 6 * av + 18 * dl)
    val want = Map(
      1L -> (4L, contrib(1, 4, 1) + contrib(1, 4, 4), 2L),
      2L -> (5L, contrib(2, 5, 4), 1L),
      3L -> (4L, contrib(1, 4, 4), 1L),
      4L -> (4L, contrib(1, 4, 4), 1L))
    assert(got.length == 4, "doc 5 (no query term) must be absent")
    got.foreach { case (id, dl, score, nt) => assert(want(id) == ((dl, score, nt)), s"doc $id") }
    // rarity: the df=1 term outscores the df=4 term at equal tf/dl
    assert(contrib(1, 4, 1) > contrib(1, 4, 4))
    // tf monotone at fixed dl/df
    assert(contrib(2, 4, 4) > contrib(1, 4, 4))
    // k truncation: docs 3 and 4 tie on score; ascending doc_id means
    // doc 3 takes the last slot and doc 4 is cut
    val top3 = TrainingOps.bm25TopK(d, Seq("rare", "common"), k = 3).collect()
      .map(_.getLong(0)).toSet
    assert(top3 == Set(1L, 2L, 3L), s"expected {1,2,3}, got $top3")
  }

  test("length percentiles: ceil-rank semantics, extremes, and histogram exactness") {
    val s = spark; import s.implicits._
    // 10 docs with token counts 1..10 (text = k copies of 'x')
    val d = (1 to 10).map(k => (k.toLong, Seq.fill(k)("x").mkString(" ")))
      .toDF("doc_id", "text")
    val got = TrainingOps.lengthPercentiles(d, Seq(1, 500, 900, 1000)).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // n=10: pm=1 -> rank ceil(10/1000)=1 -> value 1; pm=500 -> rank 5 -> 5;
    // pm=900 -> rank 9 -> 9; pm=1000 -> rank 10 -> 10
    assert(got.toSeq == Seq((1, 1L, 1L), (500, 5L, 5L), (900, 9L, 9L), (1000, 10L, 10L)))
    // duplicate-heavy distribution: the answer is a REAL data value
    val dup = (1 to 9).map(i => (i.toLong, "x x x")) :+ ((10L, "x " * 99 + "x"))
    val g2 = TrainingOps.lengthPercentiles(dup.toDF("doc_id", "text"), Seq(500, 999))
      .collect().map(r => (r.getInt(0), r.getLong(2))).toMap
    assert(g2(500) == 3L, "median of 9x3-token + 1x100-token docs is 3")
    assert(g2(999) == 100L, "p99.9 lands on the outlier")
    // empty corpus -> empty frame with the right columns
    val empty = TrainingOps.lengthPercentiles(
      Seq.empty[(Long, String)].toDF("doc_id", "text"))
    assert(empty.count() == 0 && empty.columns.toSeq ==
      Seq("permille", "target_rank", "value"))
  }

  test("sentence split: every constructed boundary recovered, traps never split, digit-led sentences split") {
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    val out = SparkEntry.queries("t35_sentences")(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3)))
    val nw = docs.select(col("doc_id"), size(split(trim(col("text")), ws)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    out.groupBy(_._1).foreach { case (id, xs) =>
      assert(xs.map(_._2).sorted.toSeq == (0 until xs.length), s"doc $id idx gap")
      // one sentence per 9-word chunk: a missed boundary (merge) or a
      // trap split (extra row) would both break this count
      assert(xs.length == (nw(id) - 1) / 9 + 1, s"doc $id sentence count")
    }
    val all = out.map(_._3)
    assert(all.exists(_.contains(" e.g. more")), "abbreviation trap absent")
    assert(all.exists(_.contains(" 3.14")), "decimal trap absent")
    assert(all.exists(_.startsWith("7 ")), "digit-led branch never fired")
    out.foreach { case (id, i, s, n) =>
      assert("[.!?]$".r.findFirstIn(s).isDefined, s"doc $id sent $i unterminated")
      assert(!s.startsWith("more") && !s.startsWith("3.14"), s"doc $id split at a trap")
      if (i > 0) assert(s.charAt(0).isUpper || s.charAt(0).isDigit, s"doc $id sent $i head")
      assert(n == s.trim.split(ws).length, s"doc $id sent $i n_words")
    }
  }

  test("c4 line scrub: every kept line satisfies all rules; lorem/brace rules independently decisive; all-ellipsis docs empty") {
    val ws = "[ \\t\\n\\r\\f\\x0B]+"
    val out = SparkEntry.queries("t36_c4_line_scrub")(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getInt(2), r.getString(3))).toMap
    assert(out.nonEmpty)
    out.foreach { case (id, (nLines, nKept, clean)) =>
      assert(nKept <= nLines)
      val kept = if (clean.isEmpty) Array.empty[String] else clean.split("\n", -1)
      assert(kept.length == nKept, s"doc $id kept-count")
      kept.foreach { x =>
        assert("[.!?\"]$".r.findFirstIn(x).isDefined, s"doc $id terminal punct: '$x'")
        assert(!x.endsWith("..."), s"doc $id ellipsis kept: '$x'")
        assert(x.trim.split(ws).length >= 5, s"doc $id short line kept: '$x'")
        assert(!x.contains("lorem ipsum") && !x.contains("{"), s"doc $id junk kept: '$x'")
      }
    }
    // the %11=6 all-ellipsis family drops every line -> pinned empty output
    val allEllipsis = out.collect { case (id, v) if id % 11 == 6 && id % 37 != 5 && id % 41 != 7 => v }
    assert(allEllipsis.nonEmpty && allEllipsis.forall { case (_, k, c) => k == 0 && c.isEmpty })
    // doc 5 gets 'lorem ipsum dolor sit amet.' (passes every OTHER gate:
    // 5 words, terminal '.') -> its absence proves the lorem rule fired
    val (n5, k5, c5) = out(5L)
    assert(c5.nonEmpty && !c5.contains("lorem") && k5 < n5)
    // doc 7 gets 'retry { connect again now }.' (6 words, terminal '.')
    // -> its absence proves the brace rule fired
    val (n7, k7, c7) = out(7L)
    assert(c7.nonEmpty && !c7.contains("{") && k7 < n7)
  }

  // ------------------------------------------------- binary walker hygiene

  /** A two-member Common-Crawl segment for [[TrainingOps.gzipMembers]]
    * and [[TrainingOps.ccReader]]: each member one WARC record wrapping a
    * synthetic HTTP response, the second with an FNAME header field.
    */
  private def ccSegment(id: Long): Array[Byte] = {
    def rec(k: Long): Array[Byte] = {
      val http = TrainingOps.syntheticHttpPayload(k)
      (s"WARC/1.0\r\nWARC-Target-URI: http://h$k.example.com/\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes("ISO-8859-1") ++
        http ++ "\r\n\r\n".getBytes("ISO-8859-1")
    }
    TrainingOps.gzipMember(rec(id)) ++ TrainingOps.gzipMember(rec(id + 1), s"r$id.warc")
  }

  /** Every synthetic fixture builder, by name. */
  private val fixtureBuilders: Seq[(String, Long => Array[Byte])] = Seq(
    "http" -> TrainingOps.syntheticHttpPayload,
    "wav" -> TrainingOps.syntheticWavPayload,
    "charset" -> TrainingOps.syntheticCharsetPayload,
    "image" -> TrainingOps.syntheticImagePayload,
    "png" -> TrainingOps.syntheticPngPayload,
    "jpeg" -> TrainingOps.syntheticJpegPayload,
    "mp3" -> TrainingOps.syntheticMp3Payload,
    "zstd" -> TrainingOps.syntheticZstdPayload,
    "ebml" -> TrainingOps.syntheticEbmlPayload,
    "ogg" -> TrainingOps.syntheticOggPayload,
    "tfrecord" -> TrainingOps.syntheticTfrecordPayload,
    "jsonl" -> TrainingOps.syntheticJsonlPayload,
    "npy" -> TrainingOps.syntheticNpyPayload,
    "safetensors" -> TrainingOps.syntheticSafetensorsPayload,
    "avro" -> TrainingOps.syntheticAvroPayload,
    "parquet" -> TrainingOps.syntheticParquetPayload,
    "gif" -> TrainingOps.syntheticGifPayload,
    "proto" -> TrainingOps.syntheticProtoPayload,
    "webp" -> TrainingOps.syntheticWebpPayload,
    "flac" -> TrainingOps.syntheticFlacPayload,
    "chunked" -> TrainingOps.syntheticChunkedPayload,
    "mp4" -> TrainingOps.syntheticMp4Payload,
    "zip" -> TrainingOps.syntheticZipPayload,
    "tar" -> TrainingOps.syntheticTarPayload,
    "tiff" -> TrainingOps.syntheticTiffPayload,
    "gzip_member" -> ((id: Long) => TrainingOps.gzipMember(
      (s"member $id " * (1 + (id % 7).toInt)).getBytes("US-ASCII"),
      if (id % 2 == 0) s"f$id.txt" else null)),
    "cc_segment" -> ccSegment)

  test("synthetic fixture builders are byte-stable: one SHA-256 per builder over ids 0-599") {
    def digest(build: Long => Array[Byte]): String = {
      val md = java.security.MessageDigest.getInstance("SHA-256")
      (0L until 600L).foreach { id =>
        val b = build(id)
        md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array)
        md.update(b)
      }
      md.digest().map("%02x".format(_)).mkString
    }
    // the builders' exact bytes: the oracle sees them only through the
    // walkers' outputs at sf0.01, so a byte that moves must fail here
    val expected = Map(
      "http" -> "890dc0d6edf173f34d8c38843b33b33a625b48004e886b7d9c52edb4d6e99c8a",
      "wav" -> "0084b16d399e520e1e24e06f449a98050744b3bc038bb57a9a50c617a374fb57",
      "charset" -> "6f0059583c790e0d37e13df5f9f1c01f74caaa92114d433a5d0d6a918be95c48",
      "image" -> "0686d4dbba107c69123bf80e4863b9747f68cf70e7873c6b88d971e7c0f87dd3",
      "png" -> "59c8324f5e9ad5c6a196f04a4eb9e64ff82b0cc8f6e3b2dc0d4a4e387102d090",
      "jpeg" -> "b58cc2e4137951f490f6eebcace7e0e0288432e4a8002a7e611a16c4fa3c27e8",
      "mp3" -> "e12ba9895d39cc31cc439c5184a1ea18f0b57a54da64a430f14afbb4171410ca",
      "zstd" -> "6f5c65f846373129f1db0d875eb8d4039b62a5b63ec07c9b3154cb5eabf8a7f8",
      "ebml" -> "0b50cd0e22e2f3572708add88c7cecbe86efeed1d94edfdc0a0c826bf2acbe39",
      "ogg" -> "0ce8c1a44ff26426f34c97886c0e9cc3b8392be4af7c6f8541db2654ba9c0a50",
      "tfrecord" -> "349959145307a9630a26bddb0d650b91b6173d97338286172ee61fb301a88319",
      "jsonl" -> "d3829dcd06c613859580684ba0d430dc245631c2fdf40262717541cd75734b24",
      "npy" -> "ea9485bfe709572d11874ecad857e08764c26d7d74649da8beff42ef6310d56a",
      "safetensors" -> "8669b497d2df4dfe35fff080731e9cb286e2cdf21d403a7b444a4a92f323a5b3",
      "avro" -> "fc6f67bf9df9f5f2c6931e4d0a60e9fc463ea06042b7ddaf7a0c771d75711ecb",
      "parquet" -> "b4f13e4046e847f4228721adcf9e3c10af1469c45696f2b0c8f127659d74b4fb",
      "gif" -> "fbaab4cb547e8e33eb8007b5f682525e6eba6afa916d1bc25349af3f82280286",
      "proto" -> "a276d457be5602aca3c794d14ec5541ff56289d45889cf0cff70b90715bc236d",
      "webp" -> "894541aa32b0670f6c1869fb6bec1e6567f045b7f7504c6f8556ff2e260e265c",
      "flac" -> "6115df32075bc92e08d23c97b4a856ad831cb3885791217c07ae365b9290b4dd",
      "chunked" -> "a5e5e84b93bfccca0c17974005ba9873110d322798df3359bbd0bc6a9c4cd4cd",
      "mp4" -> "1b886d68ccfae147536381930d6fb15436f3d908ae610c63371346e96e70bdc4",
      "zip" -> "0230266ca398e1c389ed5caae9f729daf21c811691a0f0dad14d774ffab95e68",
      "tar" -> "dd21aa8641b8eb3035e1e750d3ea5a33514c6350c07d044d5888554d547a6c49",
      "tiff" -> "4f9b2b7f265ea1a9b7df2ce274fceb41032b00f047d274545ecd93a076b02411",
      "gzip_member" -> "3e47b317a5fede304b400a2fa58c7d20f40ad09d69a81403a0dde65651146379",
      "cc_segment" -> "f83d47900cf70b8e0f86916383e647d341d936d1ddd5571df3426ab3680c6a47")
    fixtureBuilders.foreach { case (name, build) =>
      assert(digest(build) == expected(name), s"builder $name")
    }
  }

  /** Hostile inputs for one walker: NULL, empty, every prefix of the
    * synthetic payloads for ids 0-11, each payload with one bit flipped
    * per byte, seeded random bytes, and random tails behind each
    * payload's first 12 bytes (past the magic, into the length fields).
    */
  private def hostileInputs(build: Long => Array[Byte]): Seq[Array[Byte]] = {
    val base = (0L until 12L).map(build)
    val rnd = new scala.util.Random(20261019L)
    def noise(k: Int) = Array.fill(k)(rnd.nextInt(256).toByte)
    Seq(null, Array.emptyByteArray) ++
      base.flatMap(b => (1 to b.length).map(k => b.take(k))) ++
      base.flatMap(b => b.indices.map { i =>
        val c = b.clone(); c(i) = (c(i) ^ (1 << (i % 8))).toByte; c
      }) ++
      Seq.fill(64)(noise(rnd.nextInt(600))) ++
      base.flatMap(b => Seq.fill(8)(b.take(12) ++ noise(rnd.nextInt(200))))
  }

  test("every payload walker is total: NULL, empty, prefixes, bit flips and noise never throw, statuses stay in taxonomy") {
    val sp = spark; import sp.implicits._
    type Walk = (SparkSession, DataFrame) => DataFrame
    def seg(w: Walk): Walk = (s, df) => w(s, df.toDF("segment_id", "gz"))
    val fx = fixtureBuilders.toMap
    // (walker, its fixture builder, documented status taxonomy — empty
    // for the walkers that emit no status column)
    val walkers: Seq[(String, Walk, Long => Array[Byte], Set[String])] = Seq(
      ("m5_charset", TrainingOps.charsetDetect, fx("charset"), Set()),
      ("m6_http", TrainingOps.httpResponses, fx("http"), Set("ok", "truncated", "malformed")),
      ("m8_wav", TrainingOps.wavHeaders, fx("wav"), Set("ok", "truncated", "unknown")),
      ("m9_gzip", seg(TrainingOps.gzipMembers), fx("cc_segment"),
        Set("ok", "truncated", "malformed", "corrupt")),
      ("m10_cc", seg(TrainingOps.ccReader), fx("cc_segment"),
        Set("ok", "truncated", "malformed", "gzip_truncated", "gzip_malformed",
          "gzip_corrupt", "warc_truncated", "warc_malformed")),
      ("m4_image", TrainingOps.imageDims, fx("image"), Set("ok", "truncated", "malformed", "unknown")),
      ("m11_mp4", TrainingOps.mp4Headers, fx("mp4"), Set("ok", "truncated", "malformed", "unknown")),
      ("m12_chunked", TrainingOps.chunkedDecode, fx("chunked"), Set("ok", "truncated", "malformed")),
      ("m13_zip", TrainingOps.zipEntries, fx("zip"), Set("ok", "no_eocd", "malformed", "truncated")),
      ("m14_tar", TrainingOps.tarEntries, fx("tar"),
        Set("ok", "not_tar", "bad_checksum", "malformed", "truncated")),
      ("m15_tiff", TrainingOps.tiffEntries, fx("tiff"), Set("ok", "not_tiff", "malformed", "truncated")),
      ("m16_png", TrainingOps.pngChunks, fx("png"),
        Set("ok", "not_png", "truncated", "malformed", "no_iend")),
      ("m17_jpeg", TrainingOps.jpegSegments, fx("jpeg"),
        Set("ok", "not_jpeg", "truncated", "malformed", "no_eoi")),
      ("m18_mp3", TrainingOps.mp3Frames, fx("mp3"),
        Set("ok", "not_mp3", "truncated", "malformed", "free_bitrate")),
      ("m19_zstd", TrainingOps.zstdFrames, fx("zstd"), Set("ok", "not_zstd", "truncated", "malformed")),
      ("m20_ebml", TrainingOps.ebmlElements, fx("ebml"), Set("ok", "not_ebml", "truncated", "malformed")),
      ("m21_ogg", TrainingOps.oggPages, fx("ogg"), Set("ok", "not_ogg", "truncated", "malformed")),
      ("m22_tfrecord", TrainingOps.tfrecordRecords, fx("tfrecord"), Set("ok", "truncated", "corrupt_len")),
      ("m23_parquet", TrainingOps.parquetFooter, fx("parquet"),
        Set("ok", "not_parquet", "malformed", "corrupt_footer", "truncated")),
      ("m24_gif", TrainingOps.gifBlocks, fx("gif"), Set("ok", "not_gif", "truncated", "malformed")),
      ("m25_flac", TrainingOps.flacBlocks, fx("flac"),
        Set("ok", "not_flac", "missing_streaminfo", "malformed", "truncated")),
      ("m26_proto", TrainingOps.protoFields, fx("proto"), Set("ok", "truncated", "malformed")),
      ("m27_webp", TrainingOps.webpChunks, fx("webp"), Set("ok", "not_webp", "truncated", "malformed")),
      ("m28_avro", TrainingOps.avroBlocks, fx("avro"), Set("ok", "not_avro", "truncated")),
      ("m29_jsonl", TrainingOps.jsonlRecords, fx("jsonl"), Set()),
      ("m30_npy", TrainingOps.npyHeaders, fx("npy"),
        Set("ok", "not_npy", "bad_version", "truncated_header", "bad_header", "short_data")),
      ("m31_safetensors", TrainingOps.safetensorsHeaders, fx("safetensors"),
        Set("ok", "empty", "too_short", "bad_header_len", "bad_json", "bad_schema", "short_data")))
    val faults = walkers.flatMap { case (name, walk, build, taxonomy) =>
      val rows = hostileInputs(build).zipWithIndex.map { case (b, i) => (i.toLong, b) }
      val out = walk(sp, rows.toDF("doc_id", "payload"))
      scala.util.Try(
        if (taxonomy.isEmpty) { out.count(); Set.empty[String] }
        else out.select("status").distinct().collect().map(_.getString(0)).toSet
      ) match {
        case scala.util.Failure(e) =>
          var c: Throwable = e
          while (c.getCause != null) c = c.getCause
          Some(s"$name threw ${c.getClass.getSimpleName}")
        case scala.util.Success(st) if !st.subsetOf(taxonomy) =>
          Some(s"$name emitted statuses outside its taxonomy: ${st -- taxonomy}")
        case _ => None
      }
    }
    assert(faults.isEmpty, faults.mkString("\n"))
  }
}
