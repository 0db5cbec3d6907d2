package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.datapipe.{RelationalOps, TrainingOps}
import graft.gen.PagesGen
import graft.spark._
import graft.spark.Caches.RegisteredFrame

/** Driver contract — see /root/repo/SURVEY.md par 7 + the builder prompt.
  *
  * Extraction queries synthesize the Common-Crawl-style pages table
  * deterministically from the driver's documents table (FIXTURES.md par 1:
  * every payload byte derives from (doc_id, text, lang)), run the kernel
  * pipeline, and are oracle-checked because the generator embeds the main
  * content verbatim — the DuckDB SQL reconstructs the expected extraction
  * from documents.parquet alone.
  */
object SparkEntry {

  /** Pipeline config used by the oracle-checked queries. Part of the
    * oracle contract (the size gate interacts with PagesGen.OversizeLen).
    */
  val conf: ExtractConf = ExtractConf(maxBytes = 64L * 1024, buckets = 16, salt = 2)

  private def docs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/documents.parquet")

  private def embs(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/embeddings.parquet")

  /** Synthetic fetch-log headers for e39/p9 — every field a pure
    * function of doc_id so both oracles re-derive the TTL ladder
    * arithmetically (kinds by %6: max-age / no-store / no-cache /
    * Expires-Date fresh-or-stale / uppercase MAX-AGE over the cap /
    * bare; validators by %3: ETag / Last-Modified / none).
    */
  private def revalidationInput(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(col("doc_id"))
      .withColumn("fetch_ts", lit(1700000000L) + col("doc_id") * 7)
      .withColumn("cache_control",
        when(col("doc_id") % 6 === 0, concat(lit("public, max-age="),
          (lit(300) + col("doc_id") % 1000).cast("string")))
          .when(col("doc_id") % 6 === 1, lit("no-store"))
          .when(col("doc_id") % 6 === 2, lit("no-cache, must-revalidate"))
          // uppercase directive pins the case-insensitive parse
          .when(col("doc_id") % 6 === 4, lit("private, MAX-AGE=999999999"))
          .otherwise(lit(null).cast("string")))
      .withColumn("date_ts",
        when(col("doc_id") % 6 === 3, col("fetch_ts")).otherwise(lit(null).cast("long")))
      .withColumn("expires_ts",
        when(col("doc_id") % 6 === 3,
          // alternate fresh/stale Expires (stale = already expired = floor)
          when(expr("doc_id div 6 % 2") === 0,
            col("fetch_ts") + lit(7200L) + col("doc_id") % 100)
            .otherwise(col("fetch_ts") - 100))
          .otherwise(lit(null).cast("long")))
      .withColumn("etag",
        when(col("doc_id") % 3 === 0, concat(lit("\"e"), col("doc_id"), lit("\"")))
          .otherwise(lit(null).cast("string")))
      .withColumn("last_modified_ts",
        when(col("doc_id") % 3 === 1, col("fetch_ts") - 5000).otherwise(lit(null).cast("long")))

  /** PII detection/redaction over a deterministically PII-augmented
    * corpus: the raw word-soup corpus contains no PII, so (like pagesOf)
    * this synthesizes the sensitive substrings from doc_id — the oracle
    * CTE [[piiAugSql]] mirrors it, making t5/t7 non-trivial.
    */
  private def piiAug(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 1) // same raw-text filter as the oracle CTE
      .select(col("doc_id"), concat(
      col("text"), lit(" contact user"), col("doc_id"),
      lit("@mail.example.com or admin@h"), col("doc_id") % 97,
      lit(".example.org ip 10."), col("doc_id") % 256,
      lit(".0.1 tel +1-555-"), (col("doc_id") % 9000 + 1000),
      when(col("doc_id") % 3 === 0, lit(" dup@example.com")).otherwise(lit(""))
    ).as("text"))

  /** The raw corpus has near-dup families but no strict doc-in-doc
    * pairs, so (piiAug pattern) d32's input adds prefix CHILDREN: for
    * doc_id % 13 == 2 with >= 12 words, a virtual document (id + 1e9)
    * holding the first max(3, n/3) words — contained verbatim in its
    * parent, Jaccard-low by construction. The oracle CTE mirrors it.
    */
  private def containAug(d: DataFrame): DataFrame = {
    val w = split(trim(col("text")), "[ \\t\\n\\r\\f\\x0B]+")
    d.select(col("doc_id"), col("text"))
      .unionAll(d
        .filter(col("doc_id") % 13 === 2 && size(w) >= 12)
        .select((col("doc_id") + 1000000000L).as("doc_id"),
          array_join(slice(w, lit(1),
            greatest(lit(3L), floor(size(w) / 3)).cast("int")), " ").as("text")))
  }

  /** The raw corpus is clean text, so (piiAug pattern) t23 dirties it
    * deterministically by doc_id: curly quotes (%2), C0 control chars
    * (%3), space/tab runs (%5), soft hyphen + zero-width (%7) — every
    * normalization rule gets both firing and non-firing docs (doc_ids
    * coprime to 2·3·5·7 pass through byte-identical).
    */
  private def dirtyAug(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 1)
      .select(col("doc_id"), concat(
        when(col("doc_id") % 2 === 0,
          lit("\u201Cquoted\u201D \u2018x\u2019 ")).otherwise(lit("")),
        col("text"),
        when(col("doc_id") % 3 === 0,
          lit(" tail\u0007\u001Fctl")).otherwise(lit("")),
        when(col("doc_id") % 5 === 0, lit("  wide   gaps\t\there")).otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          lit(" soft\u00ADhyphen zero\u200Bwidth")).otherwise(lit(""))
      ).as("text"))

  /** DuckDB twin of [[dirtyAug]] (chr() so no control bytes ride in the
    * oracle JSON), shared by the t23 oracle. */
  private val dirtyAugSql: String =
    "SELECT doc_id, " +
      "CASE WHEN doc_id % 2 = 0 THEN chr(8220) || 'quoted' || chr(8221) || ' ' || chr(8216) || 'x' || chr(8217) || ' ' ELSE '' END || text || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' tail' || chr(7) || chr(31) || 'ctl' ELSE '' END || " +
      "CASE WHEN doc_id % 5 = 0 THEN '  wide   gaps' || chr(9) || chr(9) || 'here' ELSE '' END || " +
      "CASE WHEN doc_id % 7 = 0 THEN ' soft' || chr(173) || 'hyphen zero' || chr(8203) || 'width' ELSE '' END AS text " +
      "FROM documents WHERE length(text) >= 1"

  /** d18's span augmentation: the word-soup corpus has no organic
    * cross-doc 8-grams, so docs with doc_id % 3 == 0 get a shared 12-word
    * template tail keyed by doc_id % 4 — 5 fully-in-tail windows per doc
    * duplicate across the ~40 same-key docs, boundary windows mostly stay
    * unique (they straddle per-doc text), and the corpus's organic
    * exact-dup families contribute fully-duplicated docs (ppm 1e6).
    */
  private def spanAug(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 1)
      .select(col("doc_id"), concat(col("text"),
        when(col("doc_id") % 3 === 0, concat(lit(" "),
          array_join(transform(sequence(lit(0), lit(11)),
            i => concat(lit("sp"), col("doc_id") % 4, lit("x"), i)), " ")))
          .otherwise(lit(""))).as("text"))

  /** DuckDB twin of [[spanAug]], shared by the d18 oracle. */
  private val spanAugSql: String =
    "SELECT doc_id, text || CASE WHEN doc_id % 3 = 0 THEN ' ' || " +
      "array_to_string(list_transform(range(12), i -> 'sp' || (doc_id % 4) || 'x' || i), ' ') " +
      "ELSE '' END AS text FROM documents WHERE length(text) >= 1"

  /** DuckDB twin of [[piiAug]], shared by the t5/t7 oracles. */
  private val piiAugSql: String =
    "SELECT doc_id, text || ' contact user' || doc_id || " +
      "'@mail.example.com or admin@h' || (doc_id % 97) || '.example.org ip 10.' || " +
      "(doc_id % 256) || '.0.1 tel +1-555-' || (doc_id % 9000 + 1000) || " +
      "CASE WHEN doc_id % 3 = 0 THEN ' dup@example.com' ELSE '' END AS text " +
      "FROM documents WHERE length(text) >= 1"

  /** t25's boilerplate augmentation (the piiAug pattern): the corpus has
    * no newlines, so each doc is one line plus host-keyed template chrome
    * appended deterministically — `doc_id % 7 < 4` (57% of every source:
    * clearly boilerplate), `doc_id % 3 == 0` (33%, straddles the 30%
    * threshold source by source — some strip it, some keep it), and a
    * unique per-doc ref line (`% 17 == 1`, df=1: must always survive).
    * Predicates are coprime with the source key (doc_id % 20) so every
    * source sees a mix. Keeps `source` (the host key).
    */
  private def boilerAug(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("source"), concat(
      col("text"),
      when(col("doc_id") % 7 < 4,
        concat(lit("\nSubscribe to the "), col("source"), lit(" weekly digest")))
        .otherwise(lit("")),
      when(col("doc_id") % 3 === 0,
        concat(lit("\nAll rights reserved by "), col("source"))).otherwise(lit("")),
      when(col("doc_id") % 17 === 1,
        concat(lit("\nRef code "), col("doc_id"))).otherwise(lit(""))
    ).as("text"))

  /** DuckDB twin of [[boilerAug]], shared by the t25 oracle. */
  private val boilerAugSql: String =
    "SELECT doc_id, source, text || " +
      "CASE WHEN doc_id % 7 < 4 THEN chr(10) || 'Subscribe to the ' || source || ' weekly digest' ELSE '' END || " +
      "CASE WHEN doc_id % 3 = 0 THEN chr(10) || 'All rights reserved by ' || source ELSE '' END || " +
      "CASE WHEN doc_id % 17 = 1 THEN chr(10) || 'Ref code ' || doc_id ELSE '' END AS text " +
      "FROM documents"

  /** t27's repetition augmentation (the piiAug pattern): the word-soup
    * corpus has no organic intra-doc window repeats, so docs with
    * doc_id % 4 == 0 get an 8-word block repeated 4 times (32 words)
    * appended — because the repeat unit length EQUALS the window size,
    * consecutive full windows inside the span are identical ROTATIONS of
    * the block regardless of how the append aligns to /8 boundaries, so
    * every decorated doc is guaranteed dedupable windows; undecorated
    * docs pass through with n_kept == n_windows.
    */
  private def repAug(d: DataFrame): DataFrame =
    d.filter(length(col("text")) >= 1) // pre-aug, like the oracle CTE: an
      // empty doc must not become non-empty by decoration
      .select(col("doc_id"), concat(col("text"),
      when(col("doc_id") % 4 === 0, concat(lit(" "),
        array_join(transform(sequence(lit(0), lit(31)),
          i => concat(lit("rp"), col("doc_id") % 5, lit("w"), i % 8)), " ")))
        .otherwise(lit(""))).as("text"))

  /** DuckDB twin of [[repAug]], shared by the t27 oracle. */
  private val repAugSql: String =
    "SELECT doc_id, text || CASE WHEN doc_id % 4 = 0 THEN ' ' || " +
      "array_to_string(list_transform(range(32), i -> 'rp' || (doc_id % 5) || 'w' || (i % 8)), ' ') " +
      "ELSE '' END AS text FROM documents WHERE length(text) >= 1"

  /** d20's near-duplicate augmentation: the word-soup corpus has no
    * organic Hamming<=3 simhash pairs, so docs with doc_id % 29 == 2 are
    * replaced by a shared 200-word base (40 words x5 — the multiplicity
    * makes per-bit sums multiples of 5, so only the handful of bits whose
    * base sum is exactly 0 can flip between variants) plus ONE variant
    * token in {nv0, nv5, nv15}, a triple SEARCHED offline so the three
    * signatures sit at pairwise Hamming [3, 3, 2] under the shared h60
    * convention — inside the search radius but NOT identical, exercising
    * the block-join + verify path rather than the exact-dup collapse.
    */
  private val simBase: String =
    (0 until 40).flatMap(i => Seq.fill(5)(s"sb$i")).mkString(" ")

  private def simAug(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(col("doc_id") % 29 === 2, concat(lit(simBase + " nv"),
        when(col("doc_id") % 3 === 0, lit("0"))
          .when(col("doc_id") % 3 === 1, lit("5")).otherwise(lit("15"))))
        .otherwise(col("text")).as("text"))

  /** DuckDB twin of [[simAug]], shared by the d20 oracle. */
  private val simAugSql: String =
    s"SELECT doc_id, CASE WHEN doc_id % 29 = 2 THEN '$simBase nv' || " +
      "CASE WHEN doc_id % 3 = 0 THEN '0' WHEN doc_id % 3 = 1 THEN '5' ELSE '15' END " +
      "ELSE text END AS text FROM documents"

  /** Decontamination needs benchmark/training overlap the word-soup
    * corpus barely has organically, so (like [[piiAug]]) d12 appends a
    * deterministic "benchmark probe" tail keyed by doc_id % 23: the tail
    * contributes exactly two fully-internal 5-grams per key, shared by
    * every doc with that key — eval docs (doc_id % 61 = 7) cover ~9 keys,
    * so a predictable ~40% of training docs are contaminated. The oracle
    * CTE [[contAugSql]] mirrors it byte-for-byte.
    */
  private def contAug(d: DataFrame): DataFrame = {
    val k = col("doc_id") % 23
    d.select(col("doc_id"), concat(col("text"),
      lit(" evalmark a"), k, lit(" b"), k, lit(" c"), k, lit(" d"), k,
      lit(" e"), k).as("text"))
  }

  /** DuckDB twin of [[contAug]], the d12 oracle's augmentation CTE. */
  private val contAugSql: String =
    "SELECT doc_id, text || ' evalmark a' || (doc_id % 23) || ' b' || (doc_id % 23) || " +
      "' c' || (doc_id % 23) || ' d' || (doc_id % 23) || ' e' || (doc_id % 23) AS text " +
      "FROM documents"

  /** d15 aug: the word-soup corpus has no cross-split NEAR-duplicates,
    * so fuzzy decontamination synthesizes them deterministically (the
    * piiAug/contAug/dupAug pattern): eval docs (doc_id % 61 = 7) become
    * one of 5 canonical eval texts (keyed doc_id % 5); train docs with
    * doc_id % 61 = 14 become that canonical text plus a short unique
    * tail (Jaccard ≈ 0.8-0.97 — true fuzzy contamination); train docs
    * with doc_id % 61 = 21 share only the first 26 of 40 words
    * (Jaccard ≈ 0.56 — an LSH candidate the 0.6-verify pass must
    * REJECT, pinning the precision path). Everything else keeps its
    * original text. Mirrored byte-for-byte by [[fuzzyAugSql]].
    */
  private def fuzzyAug(d: DataFrame): DataFrame = {
    val canon = expr("array_join(transform(sequence(0, 39), " +
      "i -> concat('ev', ((doc_id % 5) * 7 + i) % 29)), ' ')")
    val head = expr("array_join(transform(sequence(0, 25), " +
      "i -> concat('ev', ((doc_id % 5) * 7 + i) % 29)), ' ')")
    val alt = expr("array_join(transform(sequence(0, 13), " +
      "i -> concat('ax', (doc_id % 5) * 5 + 26 + i)), ' ')")
    val tail = expr("array_join(transform(sequence(0, doc_id % 5), " +
      "i -> concat('tx', doc_id % 7, 'q', i)), ' ')")
    d.select(col("doc_id"),
      when(col("doc_id") % 61 === 7, canon)
        .when(col("doc_id") % 61 === 14, concat(canon, lit(" "), tail))
        .when(col("doc_id") % 61 === 21, concat(head, lit(" "), alt))
        .otherwise(col("text")).as("text"))
  }

  /** DuckDB twin of [[fuzzyAug]], the d15 oracle's augmentation CTE. */
  private val fuzzyAugSql: String =
    "SELECT doc_id, CASE WHEN doc_id % 61 = 7 THEN " +
      "array_to_string(list_transform(range(40), i -> 'ev' || (((doc_id % 5) * 7 + i) % 29)), ' ') " +
      "WHEN doc_id % 61 = 14 THEN " +
      "array_to_string(list_transform(range(40), i -> 'ev' || (((doc_id % 5) * 7 + i) % 29)), ' ') || ' ' || " +
      "array_to_string(list_transform(range(doc_id % 5 + 1), i -> 'tx' || (doc_id % 7) || 'q' || i), ' ') " +
      "WHEN doc_id % 61 = 21 THEN " +
      "array_to_string(list_transform(range(26), i -> 'ev' || (((doc_id % 5) * 7 + i) % 29)), ' ') || ' ' || " +
      "array_to_string(list_transform(range(14), i -> 'ax' || ((doc_id % 5) * 5 + 26 + i)), ' ') " +
      "ELSE text END AS text FROM documents"

  /** The word-soup corpus has zero organic exact duplicates (every text
    * is distinct), so d13's increment-vs-corpus dedup needs a dup
    * augmentation: docs with doc_id % 5 = 4 collapse onto one of 17
    * canonical texts (keyed by doc_id % 17), giving cross-split dup
    * families; all other docs keep their unique text. The oracle CTE
    * [[dupAugSql]] mirrors it. The increment is doc_id % 10 >= 8 (20%).
    */
  private def dupAug(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(col("doc_id") % 5 === 4,
        concat(lit("canonical page "), col("doc_id") % 17))
        .otherwise(col("text")).as("text"))

  /** DuckDB twin of [[dupAug]], the d13 oracle's augmentation CTE. */
  private val dupAugSql: String =
    "SELECT doc_id, CASE WHEN doc_id % 5 = 4 THEN 'canonical page ' || (doc_id % 17) " +
      "ELSE text END AS text FROM documents"

  /** DuckDB twin of the full RFC-8259 string-escape chain — generated
    * from the SAME `TrainingOps.jsonStringEscapes` table the Spark side
    * folds, so the t61 oracle cannot drift from the implementation:
    * each (literal, replacement) pair becomes one `replace(...)` layer
    * (DuckDB single-quoted strings are escape-free, so the replacement
    * text carries its backslashes literally; control-char literals ride
    * `chr(n)`).
    */
  private def duckJsonEscape(expr: String): String =
    graft.datapipe.TrainingOps.jsonStringEscapes.foldLeft(expr) {
      case (e, (a, b)) =>
        val find =
          if (a == "\\") "'\\'"
          else if (a.charAt(0) < ' ') s"chr(${a.charAt(0).toInt})"
          else s"'$a'"
        s"replace($e, $find, '$b')"
    }

  /** e59's (doc_id, host, text) input: dupAug's cross-host families
    * (hosts follow the PagesGen.hostOf formula) plus one INTRA-host
    * family — doc_id % 101 == 9 pins both text AND host, because the
    * formula host (doc_id % 97) and a shared text can't coincide below
    * lcm(5,17,97) ≈ 8k docs. The %101 rule wins over %5 (doc 9 is both).
    */
  private def mirrorAug(d: DataFrame): DataFrame =
    d.select(col("doc_id"),
      when(col("doc_id") % 101 === 9, lit("h7.example.com"))
        .when(col("doc_id") % 10 < 3, lit("big.example.com"))
        .otherwise(concat(lit("h"), col("doc_id") % 97, lit(".example.com")))
        .as("host"),
      when(col("doc_id") % 101 === 9, lit("republished notice"))
        .when(col("doc_id") % 5 === 4,
          concat(lit("canonical page "), col("doc_id") % 17))
        .otherwise(col("text")).as("text"))

  /** kind predicate mirrors PagesGen.kindOf (precedence junk > oversize >
    * pdf) and HtmlGen.familyOf for the html template families.
    */
  private def onlyKind(df: DataFrame, kind: String): DataFrame = {
    val isHtml = col("doc_id") % 37 =!= 0 && col("doc_id") % 41 =!= 0 && col("doc_id") % 10 =!= 7
    val isPdf = col("doc_id") % 37 =!= 0 && col("doc_id") % 41 =!= 0 && col("doc_id") % 10 === 7
    val isBc = col("doc_id") % 23 === 5 || col("doc_id") % 23 === 11
    kind match {
      case "html"    => df.filter(isHtml)
      case "html_a"  => df.filter(isHtml && !isBc)
      case "html_b"  => df.filter(isHtml && col("doc_id") % 23 === 5)
      case "html_c"  => df.filter(isHtml && col("doc_id") % 23 === 11)
      case "pdf"     => df.filter(isPdf)
      case "e8scope" => df.filter(!isPdf && !(isHtml && isBc)) // SQL-derivable payload sizes
      case _         => df
    }
  }

  private def pagesOf(s: SparkSession, df: DataFrame) = {
    import s.implicits._
    df.select("doc_id", "text", "lang").as[(Long, String, String)]
      .flatMap { case (id, text, lang) =>
        val r = PagesGen.row(id, text, lang)
        if (PagesGen.isDup(id)) Seq(r, r) else Seq(r)
      }
  }

  /** The host-level edge table shared by e23 (PageRank) and e44 (HITS):
    * one kernel pass parses outlinks per page, hosts extracted from the
    * absolute https urls.
    */
  private def hostEdges(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val links = pagesOf(s, onlyKind(docs(s, dir), "html"))
      .map(p => (p.url,
        graft.core.Links.outlinks(p.html).map(_.href).filter(_.startsWith("https://"))))
      .toDF("url", "hrefs").dropDuplicates("url")
    links.select(
      regexp_extract(col("url"), "https://([^/]+)/", 1).as("src"),
      explode(col("hrefs")).as("href"))
      .select(col("src"), regexp_extract(col("href"), "https://([^/]+)/", 1).as("dst"))
  }

  /** The parsed link graph + crawled set the crawl-side queries share:
    * (src_url, to_url) canonical resolved edges and the distinct crawled
    * urls, both from one kernel pass over the html pages.
    */
  private def linkGraphOf(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val pages = pagesOf(s, onlyKind(docs(s, dir), "html"))
    val edges = pages
      .map(p => (p.url, graft.core.Links.outlinks(p.html)
        .flatMap(l => graft.core.Urls.resolve(p.url, l.href))))
      .toDF("url", "resolved").dropDuplicates("url")
      .select(col("url").as("src_url"), explode(col("resolved")).as("to_url"))
    val crawled = pages.map(_.url).toDF("url").dropDuplicates("url")
    (edges, crawled)
  }

  /** The e28/p5 synthetic per-host robots rules (md5 'rb:' key — a
    * fetcher would populate this table from robots.txt bodies): ONE pass
    * over the distinct target hosts, the 5-row rule template joined
    * broadcast on its modulo predicate.
    */
  private def syntheticRobotsRules(s: SparkSession, targets: DataFrame): DataFrame = {
    import s.implicits._
    val hk = targets
      .select(regexp_extract(col("to_url"), "https?://([^/]+)", 1).as("host"))
      .distinct()
      .select(col("host"),
        conv(substring(md5(concat(lit("rb:"), col("host"))), 1, 15), 16, 10)
          .cast("long").as("k"))
    val template = Seq(("/cat", false, 2L), ("/cat/1", true, 2L),
      ("/rel", false, 3L), ("/rel", true, 3L), ("/", false, 7L))
      .toDF("prefix", "allow", "m")
    hk.join(broadcast(template), col("k") % col("m") === 0)
      .select("host", "prefix", "allow")
  }

  private def extracted(s: SparkSession, dir: String, kind: String) = {
    implicit val spark: SparkSession = s
    ExtractPipeline.run(pagesOf(s, onlyKind(docs(s, dir), kind)), conf)
  }

  /** The shared front of p7/p8: extraction (HTML family-A + PDF spines),
    * doc identity parsed back from the url, the t14 quality gate, exact
    * dedup among keeps. Returns (extracted table, survivors) — both
    * persisted at their branch points; the extraction kernel runs once
    * no matter how many signals read the result.
    */
  private def handoffSurvivors(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val ex = extracted(s, dir, "html_a").toDF().select("url", "text")
      .unionByName(extracted(s, dir, "pdf").toDF().select("url", "text"))
      .select(
        regexp_extract(col("url"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        col("url"),
        regexp_extract(col("url"), "https?://([^/]+)", 1).as("host"),
        col("text"))
      .persist().registered
    val kept = ex.join(
      TrainingOps.qualityRules(ex).filter(col("keep")).select("doc_id"), "doc_id")
      .persist().registered
    val surv = kept.join(
      TrainingOps.dedupExact(kept).select(col("keeper").as("doc_id")), "doc_id")
    (ex, surv)
  }

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    extracted(spark, "/root/testdata/sf0.001", "all").toDF()

  /** One per implemented operator from SURVEY.md par 2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // --- extraction spine (SURVEY.md par 2.3 item 11a: HTML kernel) ---
    "e1_extract_html" -> ((s, dir) => {
      extracted(s, dir, "html_a").toDF().select("url", "text")
    }),
    // par 2.3 item 11b: PDF kernel (XY-cut + reading order)
    "e2_extract_pdf" -> ((s, dir) => {
      extracted(s, dir, "pdf").toDF().select("url", "text", "pages")
    }),
    // OCR-need routing over the extracted PDF spine: text-layer density
    // (chars div pages, integer) against the searchable-vs-raster
    // threshold — the reference's per-request engine pick as a
    // corpus-level routing table
    "e69_ocr_routing" -> ((s, dir) =>
      graft.spark.ExtractPipeline.ocrRouting(extracted(s, dir, "pdf").toDF())),
    // par 2.2 items 6-8 + par 2.6 item 33: gates + status taxonomy as data
    "e3_status_taxonomy" -> ((s, dir) => {
      extracted(s, dir, "all").toDF().select("url", "engine", "status", "error_code")
    }),
    // par 2.4 item 18: request counters by (engine, status)
    "e4_metrics_status" -> ((s, dir) => {
      MetricsStage.statusCounts(extracted(s, dir, "all"))
    }),
    // par 2.8 items 40-41: span introspection — block spans via
    // higher-order array fns, word count derived from the canonical text
    // (word offsets are a pure function of text and are not stored)
    "e5_span_counts" -> ((s, dir) => {
      extracted(s, dir, "html_a").toDF().select(
        col("url"),
        size(filter(col("spans"), x => x.getField("kind") === "block")).as("n_blocks"),
        size(split(col("text"), "[ \n]")).as("n_words"),
        col("pages"))
    }),
    // par 2.9: ingest dedup (re-crawled urls collapse to one row)
    "e6_dedup_count" -> ((s, dir) => {
      extracted(s, dir, "all").toDF().agg(count(lit(1)).as("n_rows"))
    }),
    // par 2.7 items 34/36: engine discovery surface
    "e7_engines" -> ((s, _) => ExtractPipeline.engines(s)),
    // par 2.4 item 20: file-size histogram over the synthesized corpus.
    // Scope: non-pdf payloads — their byte length is a pure string
    // function of (doc_id, text, lang) that the DuckDB oracle reproduces
    // byte-for-byte; pdf payload length depends on Deflate output, which
    // SQL cannot compute (pdf inclusion is covered by a unit test).
    "e8_size_histogram" -> ((s, dir) => {
      MetricsStage.sizeHistogram(pagesOf(s, onlyKind(docs(s, dir), "e8scope")).toDF())
    }),
    // par 2.9 joins: results joined back to the pages table on url (the
    // golden-gate join shape) + flat aggregation of span-derived word
    // counts by language
    "e9_words_by_lang" -> ((s, dir) => {
      val pages = pagesOf(s, onlyKind(docs(s, dir), "html_a")).toDF()
        .select(col("url"), col("lang")).dropDuplicates("url")
      extracted(s, dir, "html_a").toDF()
        .join(pages, "url")
        .groupBy("lang")
        .agg(
          sum(size(split(col("text"), "[ \n]"))).as("n_words"),
          count(lit(1)).as("n_docs"))
    }),
    // par 2.4 row 21: timeout counter with DETERMINISTIC timeouts — the
    // per-doc budget is a parse-STEP budget (Html.Deadline's deterministic
    // twin of the wall deadline), so which docs time out is a pure
    // function of the corpus (StepCalib pins steps = A_v + 4*paras;
    // budget 148 => timeout iff paras >= 3, or >= 4 for the v=1 variant)
    "e11_timeout_metrics" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      val budgeted = conf.copy(docBudgetSteps = 148)
      MetricsStage.statusCounts(
        ExtractPipeline.run(pagesOf(s, onlyKind(docs(s, dir), "html_a")), budgeted))
    }),
    // par 2.4 row 19: duration histogram — wall times are not
    // oracle-able, so the driver checks the oracle-able projection
    // (per-engine observation counts); the percentile/avg columns are
    // covered by PipelineSpec
    "e12_duration_metrics" -> ((s, dir) => {
      MetricsStage.durationStats(extracted(s, dir, "all")).select(col("engine"), col("n"))
    }),
    // par 2.3 item 11a, DENSITY path: template families without
    // article/main markers — classification runs purely on text-density /
    // link-density / neighbor smoothing (core/Blocks.scala:279-312), with
    // near-threshold boilerplate on both sides of the 0.33 line; expected
    // text is a pure function of (doc_id, text) (DensitySpec pins the
    // kernel; the oracle re-derives it in SQL)
    "e13_density_family_b" -> ((s, dir) => {
      extracted(s, dir, "html_b").toDF().select("url", "text")
    }),
    "e14_density_family_c" -> ((s, dir) => {
      extracted(s, dir, "html_c").toDF().select("url", "text")
    }),
    // par 2.8 rows 40-42: hOCR surface round-trip — render each result as
    // the reference's hOCR wire format (page/carea/word hierarchy, cspan
    // titles) and parse it back with the introspection utility; the
    // oracle predicts the parsed counts from the raw text alone, so BOTH
    // the renderer and the parser are oracle-gated
    "e15_hocr_roundtrip" -> ((s, dir) => {
      import s.implicits._
      extracted(s, dir, "html_a")
        .map { r =>
          val h = graft.core.Hocr.render(
            graft.core.Extracted(r.text, r.spans.toVector, r.pages), r.engine)
          val (pc, wc, hs) = graft.core.Hocr.info(h)
          (r.url, pc, wc, hs)
        }.toDF("url", "page_count", "word_count", "has_spans")
    }),
    // par 2.3 rows 15-16 + par 2.6 row 30: searchable-PDF re-render —
    // every ok extraction (HTML- or PDF-sourced, the image→PDF /
    // PDF→searchable-PDF family, reference dynamic_routes.py:253-364) is
    // re-rendered as a deterministic searchable PDF (core/PdfRender) and
    // re-extracted with the PDF kernel: the round-trip text must equal
    // the original extraction byte-for-byte and the rendered page count
    // is a pure function of the text — both oracle-gated
    "e16_searchable_pdf" -> ((s, dir) => {
      import s.implicits._
      extracted(s, dir, "html_a").union(extracted(s, dir, "pdf"))
        .filter(_.status == "ok")
        .map { r =>
          val pdf = graft.core.PdfRender.render(r.text)
          val re = graft.core.PdfExtractor.extract(pdf, graft.core.Html.Deadline.unlimited)
          (r.url, re.text, re.pages)
        }.toDF("url", "rt_text", "pdf_pages")
    }),
    // par 2.4 row 22 (time dimension): requests by (event-time window,
    // engine, status) — the Prometheus time series as a windowed agg;
    // results re-join the pages table for warc_ts (ResultRow carries no
    // event time by design — it's an ingest property, not an extraction
    // output). Batch here; the streaming twin (same plan + watermark)
    // is pinned by StreamingSpec.
    "e17_windowed_counts" -> ((s, dir) => {
      // (url, warc_ts) straight from doc_id via PagesGen's Column twins
      // instead of re-generating payload bytes for a 2-column join side
      val pages = docs(s, dir).select(
        PagesGen.urlCol(col("doc_id")).as("url"),
        PagesGen.warcTsCol(col("doc_id")).as("warc_ts"))
      MetricsStage.windowedStatusCounts(
        extracted(s, dir, "all").toDF().join(pages, "url"))
    }),
    // par 2.10 scalar functions: host parse (regexp) + per-host counts —
    // the skew-observability aggregate (FIXTURES.md par 1: one host
    // carries ~30% of urls)
    "e10_host_counts" -> ((s, dir) => {
      extracted(s, dir, "all").toDF()
        .withColumn("host", regexp_extract(col("url"), "https://([^/]+)/", 1))
        .groupBy("host")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("status") === "ok", 1L).otherwise(0L)).as("n_ok"))
    }),

    // --- training-data pipeline ops (graft.datapipe.TrainingOps) ---
    "d1_dedup_exact" -> ((s, dir) => TrainingOps.dedupExact(docs(s, dir))),
    // content-defined chunking: rolling-hash cut points (insertion-shift
    // robust), per-chunk cross-doc document frequency; chunk text never
    // shuffles — only md5s
    "d25_cdc_chunks" -> ((s, dir) => TrainingOps.cdcChunks(s, docs(s, dir))),
    // pairwise source redundancy from KMV sketches: one corpus pass,
    // min_k_longs bounded heaps, sketch-only Jaccard estimates
    "t32_source_overlap" -> ((s, dir) => TrainingOps.sourceOverlap(docs(s, dir))),
    // exactly-k-per-lang deterministic sample: min_k_longs threshold +
    // broadcast compare — no per-group sort/window anywhere
    "t34_group_sample" -> ((s, dir) => TrainingOps.groupSample(docs(s, dir))),
    // Heaps-law curve: per-token min(hash-bucket) IS the whole seen-set
    // history; the only window runs on the 16-row histogram
    "t40_vocab_growth" -> ((s, dir) => TrainingOps.vocabGrowth(docs(s, dir))),
    // Zipf rank-frequency table: top-256 words, normalized curve
    // rf_ppm = 1e6*f(r) div f(1) and doubling-ratio slope probe
    // dbl_ppm = 1e6*f(r) div f(2r) (NULL past the table horizon);
    // salted two-stage top-K, no global sort of the vocab
    "t42_zipf_ranks" -> ((s, dir) => TrainingOps.zipfRanks(docs(s, dir))),
    // per-doc lexical diversity: type-token ratio, hapax ratio, top-word
    // share (Gopher-style repetition features), ppm integer floors; one
    // map-side-combined (doc_id, word) shuffle, never the token stream
    "t43_lexical_diversity" -> ((s, dir) =>
      TrainingOps.lexicalDiversity(docs(s, dir))),
    // Flesch reading-ease in exact milli-units: vowel-group syllables,
    // [.!?]+ sentences, the two-step floor chain mirrored by the oracle
    "t41_readability" -> ((s, dir) => TrainingOps.readability(docs(s, dir))),
    // encoding-damage scoring over text with deterministically planted
    // mojibake: family 1 gets 1+id%3 repeats of a double-encoded suffix
    // (4 markers each), family 3 the Â-artifact pair, family 5 raw
    // U+FFFD replacement chars; everything else is clean natural text
    "t44_mojibake" -> ((s, dir) => {
      val id = col("doc_id")
      val rep1 = expr("repeat(' cafÃ© naÃ¯ve â€™s ï¿½x', cast(1 + doc_id % 3 as int))")
      val body = when(id % 6 === 1, concat(col("text"), rep1))
        .when(id % 6 === 3, concat(col("text"), lit(" Â§Â· Â§Â·")))
        .when(id % 6 === 5, concat(col("text"), lit(" bad�seq�")))
        .otherwise(col("text"))
      TrainingOps.mojibakeScore(
        docs(s, dir).select(col("doc_id"), body.as("text")))
    }),
    // T5-style span corruption: hash-deterministic span starts (5% per
    // word, 3-word spans, overlaps merge into one run), one
    // <extra_id_k> sentinel per run in the inputs, run contents behind
    // their sentinels + a final sentinel in the targets (the T5 target
    // convention, verbatim); docs with no spans keep text verbatim with
    // NULL targets
    "t45_span_corruption" -> ((s, dir) =>
      TrainingOps.spanCorruption(docs(s, dir))),
    // BERT-style MLM masking: hash-deterministic 15% selection with the
    // 80/10/10 mask/random/keep action split; random replacements are
    // document-local draws; labels = original words at selected
    // positions (NULL when none)
    "t51_mlm_mask" -> ((s, dir) => TrainingOps.mlmMask(docs(s, dir))),
    // declared-vs-predicted language agreement: the metadata-trust
    // audit over the corpus lang column vs t1's stopword argmax
    "t55_lang_agreement" -> ((s, dir) =>
      TrainingOps.langAgreement(docs(s, dir))),
    // sentence-length burstiness over synthesized sentence structures
    // with closed-form moments: constant-k / mixed / spiky / blank
    "t54_burstiness" -> ((s, dir) => {
      val id = col("doc_id")
      val text = when(id % 4 === 0,
        expr("repeat(concat(repeat('w ', cast(4 + doc_id % 5 as int)), '. '), 5)"))
        .when(id % 4 === 1,
          lit("w w w . w w w w w w w w w . w w w w w . w w w w w w w w w w w w . w w w w w w w . "))
        .when(id % 4 === 2,
          expr("concat('w . ', repeat('w ', cast(30 + doc_id % 10 as int)), " +
            "'. ', 'w . ', repeat('w ', 25), '. ', 'w w . ')"))
        .otherwise(lit("   "))
      TrainingOps.sentenceBurstiness(
        docs(s, dir).select(col("doc_id"), text.as("text")))
    }),
    // entity-residue audit over an entity-decorated corpus: named /
    // decimal / hex syntaxes plus non-entity ampersand decoys
    "t53_entity_residue" -> ((s, dir) =>
      TrainingOps.entityResidue(docs(s, dir).select(col("doc_id"), concat(
        coalesce(col("text"), lit("")),
        when(col("doc_id") % 3 === 0, lit(" &amp; &quot;q&quot;")).otherwise(lit("")),
        when(col("doc_id") % 5 === 1, lit(" &#8211; and &#x27;s")).otherwise(lit("")),
        when(col("doc_id") % 7 === 2, lit(" AT&T snack&shop &broken")).otherwise(lit(""))
      ).as("text")))),
    // casing profile over a case-decorated corpus (the dirtyAug
    // pattern): %4 families — untouched / fully uppercased /
    // capitalized prefix / ALL-CAPS injection
    "t52_casing_profile" -> ((s, dir) =>
      TrainingOps.casingProfile(docs(s, dir).select(col("doc_id"),
        when(col("doc_id") % 4 === 1, upper(col("text")))
          .when(col("doc_id") % 4 === 2, concat(lit("Sentence Start here. "), col("text")))
          .when(col("doc_id") % 4 === 3, concat(lit("BREAKING NEWS NOW "), col("text")))
          .otherwise(col("text")).as("text")))),
    // fill-in-the-middle transform: 50% of eligible docs (n>=3) get a
    // hash-chosen middle span moved behind sentinel tokens, alternating
    // psm/spm segment orders; the rest pass through as plain LM samples
    "t46_fim_transform" -> ((s, dir) =>
      TrainingOps.fimTransform(docs(s, dir))),
    // gram-level crawl-over-crawl diff: snapshots = doc_id%3 partitions
    // (old keeps !=0, new keeps !=1 — overlapping, like real recrawls)
    "d26_crawl_novelty" -> ((s, dir) => {
      val d = docs(s, dir)
      TrainingOps.crawlNovelty(
        d.filter(col("doc_id") % 3 =!= 0), d.filter(col("doc_id") % 3 =!= 1))
    }),
    "d2_dedup_minhash_lsh" -> ((s, dir) => TrainingOps.minhashPairs(docs(s, dir))),
    "d3_dedup_simhash" -> ((s, dir) => TrainingOps.simhash(docs(s, dir))),
    // Manku-style block-banded SimHash pair search over the simAug
    // corpus: distinct-signature pre-pass, 4x15-bit block equi-join
    // (exact recall at Hamming<=3 by pigeonhole), bit_count(xor) verify
    "d20_simhash_pairs" -> ((s, dir) =>
      TrainingOps.simhashPairs(simAug(docs(s, dir)))),
    // MinHash estimator calibration over the d2 candidates: signature
    // agreement (unbiased Jaccard estimate) vs exact Jaccard, ppm
    "d22_minhash_calibration" -> ((s, dir) =>
      TrainingOps.minhashCalibration(docs(s, dir))),
    // the LSH S-curve operating table for the (4,3) banding — the
    // design document of d2/d4 as a query, exact integer arithmetic
    "d23_lsh_curve" -> ((s, dir) => TrainingOps.lshCurve(s)),
    // crawler-trap detection over a synthesized fetch log: digit runs
    // collapse to one template; a family past minUrls is a trap
    // query-parameter facet profile over synthesized parameterized
    // urls: per-(host, param) value cardinality with the
    // tracking/facet_trap/facet/constant ladder
    "e62_param_profile" -> ((s, dir) => {
      val id = col("doc_id")
      val url = when(id % 4 === 0,
        concat(lit("https://site"), id % 5, lit(".example.com/a/"), id))
        .when(id % 4 === 1,
          // #sec fragment after the params — must NOT leak into the
          // last param's value (the fragment-strip pin)
          concat(lit("https://site"), id % 5, lit(".example.com/a/"), id % 50,
            lit("?utm_source=s"), id % 3, lit("&utm_campaign=c"), id % 7,
            lit("#sec")))
        .when(id % 4 === 2,
          concat(lit("https://site"), id % 5, lit(".example.com/list?color=c"), id % 29,
            lit("&size=s"), id % 2, lit("&view=grid")))
        .otherwise(
          // sid value carries an embedded '=' (base64-padding shape) —
          // the limit-2 split must keep it in the VALUE
          concat(lit("https://site"), id % 5, lit(".example.com/p/"), id % 20,
            lit("?sid=tok="), id))
      graft.datapipe.GraphOps.paramProfile(docs(s, dir).select(url.as("url")))
    }),
    // host-quality ranking by Wilson lower bound (z=2) over synthesized
    // per-host ok flags: per-host ok-rate (h+1)/(h+2) varies by host,
    // %997 singletons exercise the low_sample flag; the double-precision
    // formula is mirrored operation-for-operation in the oracle (IEEE
    // ops are correctly rounded, so identical order = identical bits)
    "e67_host_wilson" -> ((s, dir) => {
      val id = col("doc_id")
      val host = when(id % 997 === 0, concat(lit("tiny"), id))
        .otherwise(concat(lit("site"), id % 17, lit(".example.com")))
      val ok = (id % ((id % 17) + 2)) =!= 0
      graft.datapipe.GraphOps.hostWilson(
        docs(s, dir).select(host.as("host"), ok.as("ok")))
    }),
    // per-host fetch-burst windows over the events log (user_id % 7 as
    // the host shard): 10-min buckets, all-integer 3x-own-average flag
    "e68_burst_windows" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      graft.datapipe.GraphOps.burstWindows(
        ev.select(concat(lit("host"), col("user_id") % 7).as("host"), col("ts")))
    }),
    // crawl-budget apportionment over a skewed host sharding (7 hot
    // hosts carry the doc_id%3==0 third of the corpus, 29 cold hosts
    // the rest); prime budget so remainders bite, low cap so the hot
    // hosts cap out and report surplus
    "e70_crawl_budget" -> ((s, dir) => {
      val host = when(col("doc_id") % 3 === 0,
          concat(lit("hot"), col("doc_id") % 7))
        .otherwise(concat(lit("cold"), col("doc_id") % 29))
      graft.datapipe.GraphOps.crawlBudget(
        docs(s, dir).select(host.as("host")), budget = 997L, maxPerHost = 40L)
    }),
    "e38_trap_detection" -> ((s, dir) => {
      val id = col("doc_id")
      val url = when(id % 2 === 0,
          concat(lit("https://trap"), id % 3, lit(".example.com/cal/2026/"), id))
        .otherwise(
          concat(lit("https://ok"), id % 7, lit(".example.com/page/"), id % 5))
      graft.datapipe.GraphOps.trapDetection(docs(s, dir).select(url.as("url")))
    }),
    // pagination-chain assembly over synthesized rel=next edges: docs
    // group into 8-page articles (page = doc_id % 8, forward edges
    // p -> p+1), with every 7th group closed into a rel=next CYCLE by a
    // back-edge from page 7 — cycles must come out NULL (the trap
    // signal), proper chains get (tail, dist, len) by pointer doubling
    "e51_pagination_chains" -> ((s, dir) => {
      val d = docs(s, dir)
      val uSelf = expr("concat('https://s', (doc_id div 8) % 13, " +
        "'.example.com/a/', doc_id div 8, '?page=', doc_id % 8)")
      val uNext = expr("concat('https://s', (doc_id div 8) % 13, " +
        "'.example.com/a/', doc_id div 8, '?page=', (doc_id + 1) % 8)")
      val uHead = expr("concat('https://s', (doc_id div 8) % 13, " +
        "'.example.com/a/', doc_id div 8, '?page=', 0)")
      val fwd = d.filter(expr("doc_id % 8 < 7"))
        .select(uSelf.as("url"), uNext.as("next_url"))
      val back = d.filter(expr("doc_id % 8 = 7 AND (doc_id div 8) % 7 = 2"))
        .select(uSelf.as("url"), uHead.as("next_url"))
      graft.datapipe.GraphOps.paginationChains(fwd.union(back))
    }),
    // soft-404 detection over a synthesized fetch log: status >= 400 is
    // an honest hard_error whatever the body says; status 200 with an
    // error phrase AND a thin body is a disguised error page; a LONG
    // body mentioning an error phrase (an article about 404s) stays ok
    // — the conjunction, both thresholds, and precedence all oracle-pinned
    "e50_soft404" -> ((s, dir) => {
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(id % 10 < 3, lit("big.example.com"))
          .otherwise(concat(lit("h"), id % 97, lit(".example.com"))),
        lit("/doc/"), id)
      val status = when(id % 7 === 0, lit(404))
        .when(id % 7 === 1, lit(410)).otherwise(lit(200))
      val body = when(id % 5 === 3,
          lit("Oops! The page you requested does not exist. Error 404 error. Try the search box."))
        .when(id % 5 === 4, concat(lit("Sorry, this article is no longer available. "), col("text")))
        .otherwise(col("text"))
      graft.datapipe.GraphOps.soft404(
        docs(s, dir).select(url.as("url"), status.as("http_status"), body.as("body")))
    }),
    "d4_dedup_jaccard" -> ((s, dir) => TrainingOps.jaccardVerify(docs(s, dir))),
    // extraction-yield (content-to-markup) ratio per family-A page:
    // extracted text bytes vs raw payload bytes through the REAL
    // kernel — the template-weight signal quality filters read
    "e61_extract_yield" -> ((s, dir) => {
      import s.implicits._
      val sizes = pagesOf(s, onlyKind(docs(s, dir), "html_a"))
        .map(p => (p.url, p.html.length))
        .toDF("url", "payload_bytes").dropDuplicates("url")
      extracted(s, dir, "html_a").toDF()
        .filter(col("status") === "ok")
        .select(col("url"), octet_length(col("text")).cast("long").as("text_bytes"))
        .join(sizes, "url")
        .select(col("url"), col("text_bytes"),
          col("payload_bytes").cast("long").as("payload_bytes"))
        .withColumn("yield_ppm", expr("1000000 * text_bytes div payload_bytes"))
        .withColumn("verdict",
          when(col("yield_ppm") < 100000, lit("template_heavy"))
            .when(col("yield_ppm") >= 500000, lit("content_dense"))
            .otherwise(lit("normal")))
    }),
    // cross-host mirror detection: exact dedup crossed with the host
    // dimension — cross_host (mirror farm / syndication) vs intra_host
    // (CMS aliasing) verdict per duplicated-content cluster
    "e59_mirror_clusters" -> ((s, dir) =>
      TrainingOps.mirrorClusters(mirrorAug(docs(s, dir)))),
    // containment (asymmetric Jaccard) over rare-shingle-blocked
    // candidates: doc-in-doc pairs that Jaccard-LSH structurally
    // misses; input corpus gains prefix children (containAug)
    "d32_containment" -> ((s, dir) =>
      TrainingOps.containmentVerify(containAug(docs(s, dir)))),
    // b-bit (last-nibble) minhash estimate with the 2^-b collision
    // floor subtracted, measured against exact Jaccard per pair
    "d35_bbit_minhash" -> ((s, dir) => TrainingOps.bbitMinhash(docs(s, dir))),
    // LSH design table: collision S-curves for every (r, b) split of a
    // 24-signature budget, fold-product doubles (no pow)
    "d36_lsh_planner" -> ((s, _) => TrainingOps.lshPlanner(s)),
    // banded (Ukkonen) edit-distance verify over the d2 candidates;
    // maxDist=5 splits this corpus's pairs (d=4 within, d=8 capped) so
    // both the in-band and capped-at-k+1 branches are oracle-pinned
    "d27_edit_verify" -> ((s, dir) => TrainingOps.editVerify(docs(s, dir), maxDist = 5)),
    "d5_ann_cosine_topk" -> ((s, dir) => TrainingOps.annCosineTopK(embs(s, dir))),
    // mutual-kNN edges among the d5 seed subset: broadcast all-pairs
    // among seeds only, round-6 cosine ranks, reciprocity filter. The
    // % 50 sampling rule is THIS WIRING's demo choice — the op itself
    // takes any caller-supplied DF-bounded seeds table (cluster reps)
    "d37_mutual_knn" -> ((s, dir) => {
      val e = embs(s, dir)
      TrainingOps.mutualKnnSeeds(e, e.filter(col("vec_id") % 50 === 0))
    }),
    // semantic cluster labels: hash-min components over the d37 mutual
    // edge set (the SemDeDup-style cluster step on honest reciprocal
    // edges) — composition of two existing ops, numeric min labels
    "d38_knn_components" -> ((s, dir) => {
      val e38 = embs(s, dir)
      val edges = TrainingOps.mutualKnnSeeds(e38, e38.filter(col("vec_id") % 50 === 0))
        .select(col("a").as("src"), col("b").as("dst"))
      graft.datapipe.GraphOps.connectedComponents(edges)
        .select(col("host").as("vec_id"), col("comp"), col("comp_size"))
    }),
    "d7_ann_topk_scalable" -> ((s, dir) => {
      implicit val sp: SparkSession = s
      TrainingOps.annCosineTopKScalable(embs(s, dir))
    }),
    "d6_ann_lsh_buckets" -> ((s, dir) => TrainingOps.annLshBuckets(embs(s, dir))),
    "d8_dedup_embedding" -> ((s, dir) => TrainingOps.embCosinePairs(embs(s, dir))),
    "d9_ann_ivf_topk" -> ((s, dir) => TrainingOps.annIvfTopK(embs(s, dir))),
    // IVF cell-balance audit over d9's 16-cell assignment: dense cell
    // spine (empties must appear), load ppm, empty/hot/cold/balanced
    "d33_ivf_balance" -> ((s, dir) =>
      TrainingOps.ivfBalance(embs(s, dir), nCells = 16)),
    // per-vector assignment margin (d_own/d_second of d9's argmin):
    // core/interior/boundary — the recall-risk map behind d29's nProbe
    "d34_ivf_margins" -> ((s, dir) =>
      TrainingOps.ivfMargins(embs(s, dir), nCells = 16)),
    // k-means training (2 Lloyd iterations, 8 cells) in pure integer
    // arithmetic after ppm quantization — bit-reproducible across
    // partitionings AND unrollable in the DuckDB oracle; output is the
    // trained centroid table + final-assignment members/inertia
    "d28_kmeans_train" -> ((s, dir) => TrainingOps.kmeansTrain(embs(s, dir))),
    // index-quality eval: per-probe recall@5 of the IVF index against
    // the exact brute-force truth, integer ppm
    "d21_ann_recall" -> ((s, dir) => TrainingOps.annRecall(embs(s, dir))),
    // multi-probe IVF (nProbe=3 of 16): the recall dial — provably
    // interpolates between d9 (nProbe=1) and d5's brute force
    // (nProbe=nCells), both laws pinned in the unit test
    "d29_ivf_multiprobe" -> ((s, dir) => TrainingOps.annIvfMultiprobe(embs(s, dir))),
    // product-quantization encode: 4 sub-space codes + quantization error,
    // map-only with driver-inlined codebooks (the d9 centroid family)
    "d16_pq_codes" -> ((s, dir) => TrainingOps.pqCodes(embs(s, dir))),
    // Johnson-Lindenstrauss random projection (Rademacher sign planes):
    // the 4th ANN leg — map-only, planes inlined, long-format output
    "d19_rp_project" -> ((s, dir) => TrainingOps.rpProject(embs(s, dir))),
    // SQ8 scalar quantization: per-dim global ranges inlined, map-only
    // byte encode + signed reconstruction residual, long format
    "d39_sq8_encode" -> ((s, dir) => TrainingOps.sq8Encode(embs(s, dir))),
    // ADC search over the PQ code table: probes broadcast, distance =
    // per-subspace codebook-centroid lookup + fold (codes read, never
    // raw candidate floats)
    "d17_adc_topk" -> ((s, dir) => TrainingOps.adcTopK(embs(s, dir))),
    // Lee et al. 2021 exact-substring duplication signal: stride-1
    // 8-word windows, cross-doc dup fraction per doc (span-augmented
    // corpus — shared template tails per doc_id%4 key)
    "d18_substring_dup" -> ((s, dir) => TrainingOps.substringDup(spanAug(docs(s, dir)))),
    // SemDeDup: cluster-then-pairwise semantic dedup over the IVF cells.
    // tau=0.4 because the synthetic embeddings are random (no true
    // semantic near-dups); real corpora run tau≈0.9+ — the dial moves,
    // the plan shape doesn't
    "d14_semdedup" -> ((s, dir) => TrainingOps.semDedup(embs(s, dir))),
    // semdedup operating curve: one pairwise pass reduced to per-rep
    // max witness cosine, then the 9-tau CDF; row tau=0.4 provably
    // equals d14's dup count
    "d30_semdedup_curve" -> ((s, dir) => TrainingOps.semDedupCurve(embs(s, dir))),
    // fuzzy decontamination over the near-dup-augmented corpus: banded
    // MinHash containment join (train bands vs broadcast eval bands) +
    // exact-Jaccard verify at 0.6 — the synthetic tails sit at ~0.8-0.97
    // (caught) and the half-overlap family at ~0.56 (candidate, rejected)
    "d15_fuzzy_decontaminate" -> ((s, dir) =>
      TrainingOps.fuzzyDecontaminate(fuzzyAug(docs(s, dir)), col("doc_id") % 61 === 7)),
    "d10_dup_clusters" -> ((s, dir) => TrainingOps.dupClusters(docs(s, dir))),
    // quality-argmax representative per near-dup cluster: the keeper rule
    // real curation pipelines apply AFTER clustering (keep the cleanest
    // copy, not the first-crawled) — map-side-combined struct-min, no
    // window, so a boilerplate mega-cluster can't pile into one task
    "d24_cluster_reps" -> ((s, dir) => TrainingOps.clusterRepresentatives(docs(s, dir))),
    "d11_paragraph_dedup" -> ((s, dir) => TrainingOps.paragraphDedup(docs(s, dir))),
    "t1_lang_id" -> ((s, dir) => TrainingOps.langId(docs(s, dir))),
    "t2_quality_score" -> ((s, dir) => TrainingOps.qualityScore(docs(s, dir))),
    "t3_token_counts" -> ((s, dir) => TrainingOps.tokenCounts(docs(s, dir))),
    "t4_fingerprint" -> ((s, dir) => TrainingOps.fingerprint(docs(s, dir))),
    // PII detection over a deterministically PII-augmented corpus: the
    // raw word-soup corpus contains no PII, so (like pagesOf) the query
    // synthesizes the sensitive substrings from doc_id — the oracle
    // mirrors the augmentation, making the counts non-trivial
    "t5_pii" -> ((s, dir) => TrainingOps.piiStats(piiAug(docs(s, dir)))),
    "t7_pii_redact" -> ((s, dir) => TrainingOps.piiRedact(piiAug(docs(s, dir)))),
    "t6_repetition" -> ((s, dir) => TrainingOps.repetitionStats(docs(s, dir))),
    // corpus assembly (SURVEY.md par 2.10 T19-T22): decontamination over
    // the probe-augmented corpus (eval set = doc_id % 61 = 7), hash-
    // deterministic stratified sampling, fractional source mixing, and
    // shard-local sequence packing
    "d12_decontaminate" -> ((s, dir) =>
      TrainingOps.decontaminate(contAug(docs(s, dir)), col("doc_id") % 61 === 7)),
    "t8_stratified_sample" -> ((s, dir) => TrainingOps.stratifiedSample(docs(s, dir))),
    "t9_source_mix" -> ((s, dir) => TrainingOps.sourceMix(docs(s, dir))),
    // per-source doc cap (salted two-stage top-N); cap 10 so the sf0.01
    // sources (~dozens of docs each) actually get pruned
    "t13_source_cap" -> ((s, dir) => TrainingOps.sourceCap(docs(s, dir), maxPerSource = 10)),
    // Gopher/C4 hard-gate rule bundle (line structure synthesized from
    // doc_id — piiAug pattern — so every line-level rule has both pass
    // and fail cases in the corpus)
    "t14_quality_rules" -> ((s, dir) => TrainingOps.qualityRules(docs(s, dir))),
    // C4-style LINE-level scrubber over the same decorated corpus as t14
    // (plus two junk lines that make the lorem/brace rules independently
    // decisive): terminal punctuation, no ellipsis ending, >= 5 words,
    // no lorem/brace — survivors rejoined into clean_text
    "t36_c4_line_scrub" -> ((s, dir) => TrainingOps.c4LineScrub(docs(s, dir))),
    // Aho-Corasick multi-pattern blocklist counting: one corpus pass
    // regardless of pattern count, nested prefix/suffix pattern families
    // ("scan">"can">"an", "tab"/"table"/"able") pin the dictionary-link
    // flattening; oracle is the naive O(n*p) position scan it replaces
    "t37_blocklist_hits" -> ((s, dir) => TrainingOps.blocklistHits(s, docs(s, dir))),
    // interpolated Kneser-Ney bigram familiarity + CCNet head/middle/
    // tail terciles: absolute discounting in integer half-counts,
    // continuation probability from distinct-context counts, cutoffs
    // estimated on a deterministic 1-in-10 hash sample (the only global
    // window touches the sample, never the corpus)
    "t38_kn_familiarity" -> ((s, dir) =>
      TrainingOps.kneserNeyFamiliarity(docs(s, dir))),
    // sentence segmentation over sentence-structured synthetic text:
    // lookaround boundary (punct + whitespace + capital/digit) that must
    // split every constructed boundary and neither trap (abbreviation,
    // decimal point)
    "t35_sentences" -> ((s, dir) => TrainingOps.sentenceSplit(docs(s, dir))),
    // corpus-level frequent-trigram mining (boilerplate discovery):
    // map-side-combined counts, minCount tail prune, salted two-stage
    // top-K — no global sort of the distinct-ngram set
    "t15_frequent_ngrams" -> ((s, dir) => TrainingOps.frequentNgrams(docs(s, dir))),
    // sketch-pruned heavy hitters: CMS pre-pass (map-only, counters not
    // n-grams cross the wire) gates the exact count; output provably
    // identical to t15's plain formulation — same oracle
    "t21_cms_heavy_hitters" -> ((s, dir) => TrainingOps.cmsHeavyHitters(docs(s, dir))),
    // bounded-posting-list inverted index: salted two-stage min-cap
    // champion lists + exact df joined back word-keyed. Postings emit as
    // a comma-joined string (not ARRAY<BIGINT>): the driver compare
    // canonicalizes by sorting/hashing column values and cannot digest
    // array cells, so the champion list crosses the gate as scalar text
    // — the array-valued API stays on TrainingOps.invertedIndex itself.
    "t22_inverted_index" -> ((s, dir) =>
      TrainingOps.invertedIndex(docs(s, dir))
        .withColumn("postings", array_join(col("postings"), ","))),
    // per-doc TF-IDF keywords (linear integer idf — the t12
    // transcendental-free rule; ties break by word asc)
    "t16_tfidf_keywords" -> ((s, dir) => TrainingOps.tfidfKeywords(docs(s, dir))),
    // BM25 top-k retrieval for a literal query-term set: map-side tf,
    // broadcast df, exact-integer Okapi arithmetic (k1=6/5, b=3/4),
    // TakeOrderedAndProject global top-k — never a full sort
    "t56_bm25_topk" -> ((s, dir) =>
      TrainingOps.bm25TopK(docs(s, dir), Seq("spark", "merge", "window"))),
    // exact corpus length percentiles from the value histogram: one
    // (length, count) shuffle bounded by DISTINCT lengths, driver-side
    // prefix scan (t31 convention), type-1/quantile_disc semantics
    "t57_length_percentiles" -> ((s, dir) =>
      TrainingOps.lengthPercentiles(docs(s, dir))),
    // vocabulary coverage curve from the count-VALUE histogram (t57's
    // trick on the frequency axis): smallest frequency-ranked vocab
    // covering each per-mille of tokens, exact within-class cut
    "t58_vocab_coverage" -> ((s, dir) =>
      TrainingOps.vocabCoverage(docs(s, dir))),
    // paragraph-level language-mix detection (majority vote + mixed
    // flag over the /8 paragraph windows)
    "t17_lang_mix" -> ((s, dir) => TrainingOps.langMix(docs(s, dir))),
    // one-row corpus vocabulary stats (tokens, vocab, hapax tail, top word)
    "t18_corpus_stats" -> ((s, dir) => TrainingOps.corpusStats(docs(s, dir))),
    // group-aware train/val/test split: keyed on the HOST hash so
    // same-host near-dups can never straddle splits (leakage-freedom is
    // structural); integer-ppm fractions, map-only
    "t26_split" -> ((s, dir) => TrainingOps.splitByGroup(docs(s, dir))),
    // intra-doc repeated-window removal over the repAug corpus: first
    // occurrence per /8 window kept, map-only indexed filter lambda
    "t27_self_dedup" -> ((s, dir) => TrainingOps.selfDedup(repAug(docs(s, dir)))),
    // CCNet-style per-host boilerplate-line removal over the boilerAug
    // corpus: host-conditioned df thresholds (integer ppm), detection on
    // line HASHES only, broadcast per-host sets, map-only strip
    "t25_host_boilerplate" -> ((s, dir) =>
      TrainingOps.hostBoilerplate(boilerAug(docs(s, dir)))),
    // HyperLogLog distinct-shingle sketch per lang + max-merged '*' row:
    // the cardinality companion of the t21 CMS — integer registers,
    // exact-integer harmonic sum, ONE final IEEE division (no ln/pow)
    "t24_hll_distinct" -> ((s, dir) => TrainingOps.hllDistinct(docs(s, dir))),
    // distributed BPE tokenizer training: ONE corpus-sized pass builds the
    // word-frequency table, then 4 pair-count/argmax/merge iterations run
    // over the (persisted) vocabulary; the oracle unrolls the identical
    // iterations as a CTE chain (the e23 pattern)
    "t19_bpe_merges" -> ((s, dir) => TrainingOps.bpeMerges(docs(s, dir))),
    // model-based quality filter (CCNet/DCLM shape): hashed-feature linear
    // classifier trained in one map-combined pass ('en'-vs-rest is the
    // sandbox label), weights inlined driver-side, map-only scoring
    "t20_quality_classifier" -> ((s, dir) => TrainingOps.qualityClassifier(docs(s, dir))),
    // ftfy-class text normalization over the deterministically dirtied
    // corpus (controls, zero-widths, curly quotes, whitespace runs)
    "t23_normalize" -> ((s, dir) => TrainingOps.normalizeText(dirtyAug(docs(s, dir)))),
    // composed learn-then-tokenize BPE pipeline: t19's merges applied
    // map-only to every document (the serving side)
    "p3_bpe_tokenize" -> ((s, dir) => TrainingOps.bpeTokenize(docs(s, dir))),
    // one-row corpus release datasheet composing the library's own
    // aggregates (size/tokens/vocab, dup rate, quality keep rate, top
    // lang); input is the dup-augmented corpus (the d13 convention, lang
    // kept) so the duplicate-rate column is non-trivial — the raw word
    // soup has no exact dups
    "p4_corpus_datasheet" -> ((s, dir) => TrainingOps.corpusDatasheet(
      docs(s, dir).select(col("doc_id"), col("lang"),
        when(col("doc_id") % 5 === 4,
          concat(lit("canonical page "), col("doc_id") % 17))
          .otherwise(col("text")).as("text")))),
    // seqLen 512 (not the 2048 default) so the sf0.01 corpus actually
    // crosses sequence boundaries (docs spanning two sequences, several
    // sequences per shard) — the oracle hardcodes the same length
    "t10_sequence_pack" -> ((s, dir) => TrainingOps.sequencePack(docs(s, dir), seqLen = 512)),
    // exact GLOBAL token-budget sharding via the distributed two-phase
    // prefix sum (range-bucket totals -> driver exclusive scan -> inlined
    // offsets + bounded per-bucket windows) — never an unpartitioned
    // Window.orderBy over the corpus
    "t31_token_shards" -> ((s, dir) => TrainingOps.tokenShards(docs(s, dir))),
    // the WRITE side of the shard plan: per-shard JSONL payload bytes
    // (t31 sharding x m29 format), doc_id-ordered lines + trailing
    // newline, md5 over the exact bytes a data loader would read
    "t61_jsonl_shard_payloads" -> ((s, dir) =>
      TrainingOps.jsonlShardPayloads(docs(s, dir))),
    // per-shard release receipts over t31's shards: doc/token counts,
    // id range, and an order/partitioning-independent bit_xor checksum
    "t59_shard_manifest" -> ((s, dir) => TrainingOps.shardManifest(docs(s, dir))),
    // release-integrity audit over PERTURBED receipt twins (manifests
    // lose shard%5==2 and overcount shard%7==3; payloads lose
    // shard%3==1) so every verdict rung fires; budget 1024 gives the
    // sf0.01 corpus enough shards to populate all four
    "p20_release_audit" -> ((s, dir) => {
      val mPert = TrainingOps.shardManifest(docs(s, dir), budget = 1024L)
        .filter(col("shard") % 5 =!= 2)
        .withColumn("n_docs",
          col("n_docs") + when(col("shard") % 7 === 3, 1L).otherwise(0L))
      val pPert = TrainingOps.jsonlShardPayloads(docs(s, dir), budget = 1024L)
        .filter(col("shard") % 3 =!= 1)
      TrainingOps.releaseAudit(mPert, pPert)
    }),
    // tensor-shard audit (the model-plane p20): m31 safetensors headers
    // vs an expected-manifest twin PERTURBED so every rung fires —
    // f0 docs at %5==0 expect one extra element (shape_mismatch), a
    // phantom tensor 'q' at f0 %7==0 and 'b' on every f1 shard
    // (missing_tensor), f0's real 'ids' tensor is left out of the
    // manifest (unexpected_tensor), every invalid-file family f>=2
    // expects 'emb' (unreadable_shard), and f0 %11==0 shards are also
    // expected at -(shard+1) — negative ids are outside the doc_id
    // domain at EVERY scale, so the phantom never collides with a real
    // shard (missing_shard)
    "p21_tensor_shard_audit" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticSafetensorsPayload(id)))
        .toDF("doc_id", "payload")
      val headers = TrainingOps.safetensorsHeaders(s, payloads)
      val d = docs(s, dir).select(col("doc_id"),
        (col("doc_id") % 6).as("f"),
        (lit(2) + col("doc_id") % 7).cast("long").as("k0"),
        (lit(1) + col("doc_id") % 5).cast("long").as("k1"))
      val sh = col("doc_id").as("shard")
      val expected = d.filter(col("f") === 0)
        .select(sh, lit("emb").as("name"), lit("F32").as("exp_dtype"),
          when(col("doc_id") % 5 === 0, col("k0") * col("k1") + 1L)
            .otherwise(col("k0") * col("k1")).as("exp_elems"))
        .unionByName(d.filter(col("f") === 0 && col("doc_id") % 7 === 0)
          .select(sh, lit("q").as("name"), lit("F32").as("exp_dtype"),
            lit(7L).as("exp_elems")))
        .unionByName(d.filter(col("f") === 1)
          .select(sh, lit("w").as("name"), lit("F16").as("exp_dtype"),
            col("k1").as("exp_elems")))
        .unionByName(d.filter(col("f") === 1)
          .select(sh, lit("b").as("name"), lit("F32").as("exp_dtype"),
            lit(4L).as("exp_elems")))
        .unionByName(d.filter(col("f") >= 2)
          .select(sh, lit("emb").as("name"), lit("F32").as("exp_dtype"),
            (col("k0") * col("k1")).as("exp_elems")))
        .unionByName(d.filter(col("f") === 0 && col("doc_id") % 11 === 0)
          .select((-col("doc_id") - 1L).as("shard"),
            lit("emb").as("name"), lit("F32").as("exp_dtype"),
            (col("k0") * col("k1")).as("exp_elems")))
      TrainingOps.tensorShardAudit(headers, expected)
    }),
    // daily-ingest incremental dedup over the dup-augmented corpus:
    // increment = doc_id % 10 >= 8, corpus = the rest
    "d13_incremental_dedup" -> ((s, dir) => {
      val a = dupAug(docs(s, dir))
      TrainingOps.incrementalDedup(
        a.filter(col("doc_id") % 10 >= 8), a.filter(col("doc_id") % 10 < 8))
    }),
    "t11_global_shuffle" -> ((s, dir) => TrainingOps.globalShuffle(docs(s, dir))),
    // per-source token yield after exact dedup over the dup-augmented
    // corpus (source kept): cross-source duplicate tokens attribute to
    // the keeper's source
    // duplicate-cluster size histogram over the dup-augmented corpus:
    // log2 buckets via the t24 bin()-length trick
    "d31_dup_histogram" -> ((s, dir) =>
      TrainingOps.dupSizeHistogram(dupAug(docs(s, dir)))),
    "t49_token_yield" -> ((s, dir) =>
      TrainingOps.tokenYield(docs(s, dir).select(col("doc_id"), col("source"),
        when(col("doc_id") % 5 === 4,
          concat(lit("canonical page "), col("doc_id") % 17))
          .otherwise(col("text")).as("text")))),
    "t12_lm_familiarity" -> ((s, dir) => TrainingOps.unigramFamiliarity(docs(s, dir))),
    // contamination reach: the eval-side inverse of d12 over the same
    // contAug corpus — which benchmark docs leak into training, how many
    // training docs share their grams, leaked fraction in ppm
    "t30_contamination_report" -> ((s, dir) =>
      TrainingOps.contaminationReport(contAug(docs(s, dir)), col("doc_id") % 61 === 7)),
    // Unicode script mix over the scriptAug corpus: per-script char ppm
    // + fixed-precedence dominant script — classifies what stopword
    // lang-ID structurally cannot (scripts with no known stopword list)
    "t29_script_mix" -> ((s, dir) => {
      // %13==5: pure-CJK replacement (dominant flips); %13==11: an exact
      // latin/greek tie ("αβγδ abcd": 4 each) pinning the precedence
      // order; %13 in {7,9}: appended runs (mixed-script, latin stays
      // dominant, the ppm columns go non-zero). Pre-aug length filter:
      // an empty doc must not become non-empty by decoration.
      val aug = docs(s, dir).filter(length(col("text")) >= 1)
        .select(col("doc_id"),
          when(col("doc_id") % 13 === 5, lit("汉字文本内容数据页面"))
            .when(col("doc_id") % 13 === 11, lit("αβγδ abcd"))
            .otherwise(concat(col("text"),
              when(col("doc_id") % 13 === 7, lit(" русский текст страницы")).otherwise(lit("")),
              when(col("doc_id") % 13 === 9, lit(" نص عربي للصفحة")).otherwise(lit(""))))
            .as("text"))
      TrainingOps.scriptMix(aug)
    }),
    // bigram-LM familiarity: the model is a JOIN-sized table (the t12
    // contrast — a bigram model cannot broadcast), conditional integer
    // ppm, pruned at c(l,r) >= 2, oov counted as its own signal
    "t28_bigram_familiarity" -> ((s, dir) =>
      TrainingOps.bigramFamiliarity(docs(s, dir))),
    // PMI collocation mining: positive-PMI adjacent pairs by integer
    // lift ppm — two map-side-combined corpus scans, prune-then-join,
    // one-row total broadcast; the floor chain mirrored by the oracle
    "t39_pmi_collocations" -> ((s, dir) =>
      TrainingOps.pmiCollocations(docs(s, dir))),
    // skip-gram pair table (±2 window): map-side slice fanout, one
    // pair-keyed count — the word2vec training-pair extraction
    "t60_skipgram_pairs" -> ((s, dir) =>
      TrainingOps.skipgramPairs(docs(s, dir))),
    // the flagship COMPOSED pipeline: quality filter -> exact dedup ->
    // decontaminate -> stratified sample -> sequence pack, all public
    // TrainingOps chained by doc_id semi-joins. Every stage that feeds
    // TWO consumers (the op and the join-back) is persisted — without
    // that, each branch recomputes its whole upstream and the lazy plan
    // re-reads the source 32 times (measured); with it, one scan + one
    // materialization per stage, which is exactly what a production
    // pipeline does between major phases (at 100 TB: checkpoint to the
    // lakehouse instead of memory). Augmentations give each stage real
    // work on the word-soup corpus: canonical-collapse (dup families,
    // before dedup) and eval-probe tails (before decontamination), both
    // mirrored in the oracle CTE chain. At sf0.01: 500 -> 371 -> 288 ->
    // 206 -> 65 docs -> packed sequences.
    // the crawl-to-corpus handoff in ONE plan: raw page bytes -> the
    // extraction kernel (HTML family-A + PDF spines) -> doc identity
    // parsed back from the url -> language ID -> the t14 quality-rule
    // gate -> exact dedup among survivors -> leakage-safe host split.
    // The extracted table persists at its branch point (lang, quality,
    // and the dedup/survivor joins all read it); output follows the t23
    // hash-compare convention (md5 of text, never megabyte rows).
    "p7_training_handoff" -> ((s, dir) => {
      val (ex, surv) = handoffSurvivors(s, dir)
      val lang = TrainingOps.langId(ex).select(col("doc_id"), col("lang_pred"))
      surv.join(lang, "doc_id")
        .join(TrainingOps.splitByGroup(surv, groupCol = "host")
          .select("doc_id", "split"), "doc_id")
        .select(col("doc_id"), col("url"), col("host"), col("lang_pred"),
          col("split"), md5(col("text")).as("text_md5"))
    }),
    // the corpus RELEASE: p7's surviving documents, train split only,
    // packed into fixed-length training sequences — raw page bytes to
    // tensor-ready shards in one plan, the end of the whole pipeline
    "p8_corpus_release" -> ((s, dir) => {
      val (_, surv) = handoffSurvivors(s, dir)
      val train = surv
        .join(TrainingOps.splitByGroup(surv, groupCol = "host")
          .filter(col("split") === "train").select("doc_id"), "doc_id")
        .select(col("doc_id"), col("text"))
      TrainingOps.sequencePack(train, seqLen = 512)
    }),
    "p1_corpus_pipeline" -> ((s, dir) => {
      val k17 = col("doc_id") % 17
      val k23 = col("doc_id") % 23
      val aug = docs(s, dir).select(col("doc_id"), col("lang"),
        when(col("doc_id") % 5 === 4,
          concat(lit("lorem canonical page " * 30), k17))
          .otherwise(col("text")).as("text")).persist().registered
      val q = aug.join(TrainingOps.qualityScore(aug)
        .filter(col("quality") >= 0.4).select("doc_id"), "doc_id").persist().registered
      val d = q.join(TrainingOps.dedupExact(q)
        .select(col("keeper").as("doc_id")), "doc_id")
      val a2 = d.select(col("doc_id"), col("lang"), concat(col("text"),
        lit(" evalmark a"), k23, lit(" b"), k23, lit(" c"), k23,
        lit(" d"), k23, lit(" e"), k23).as("text")).persist().registered
      val clean = a2.join(TrainingOps.decontaminate(a2, col("doc_id") % 61 === 7)
        .filter(!col("contaminated")).select("doc_id"), "doc_id").persist().registered
      val smp = clean.join(TrainingOps.stratifiedSample(clean)
        .select("doc_id"), "doc_id")
      TrainingOps.sequencePack(smp, seqLen = 512)
    }),
    // as-of join over the events table: each click gets the latest error
    // of the same user at or before its timestamp (point-in-time lookup)
    "e18_asof_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      RelationalOps.asofJoin(
        ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id", "value"),
        ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_event_id"), col("ts").as("err_ts"),
            col("user_id"), col("value").as("err_value")),
        key = "user_id", leftTs = "ts", rightTs = "err_ts")
    }),
    // range join: views landing inside 15-minute post-purchase windows
    // (bin-bucketized equi-join, not a nested-loop range join)
    "e19_range_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      RelationalOps.rangeJoin(
        ev.filter(col("event_type") === "view")
          .select("event_id", "ts", "user_id", "value"),
        ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("win_id"), col("ts").as("win_start"),
            (col("ts") + expr("INTERVAL 15 MINUTES")).as("win_end")),
        leftTs = "ts", start = "win_start", end = "win_end")
    }),
    // relational spine over the standard TPC-H-shaped tables: the
    // lakehouse's analytics half is ordinary star-schema SQL, and these
    // three pin that the engine's planning + the integer-cents oracle
    // convention hold there too
    "q1_pricing_summary" -> ((s, dir) =>
      RelationalOps.pricingSummary(s.read.parquet(s"$dir/lineitem.parquet"))),
    "q3_shipping_priority" -> ((s, dir) =>
      RelationalOps.shippingPriority(
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/lineitem.parquet"))),
    "q18_large_orders" -> ((s, dir) =>
      RelationalOps.largeOrders(
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/lineitem.parquet"))),
    // q5: the six-table join-depth leg of the spine — two fact
    // shuffles, everything else broadcast through the region chain
    "q5_local_supplier_volume" -> ((s, dir) =>
      RelationalOps.localSupplierVolume(
        s.read.parquet(s"$dir/customer.parquet"),
        s.read.parquet(s"$dir/orders.parquet"),
        s.read.parquet(s"$dir/lineitem.parquet"),
        s.read.parquet(s"$dir/supplier.parquet"),
        s.read.parquet(s"$dir/nation.parquet"),
        s.read.parquet(s"$dir/region.parquet"))),
    // stream-stream interval join, BATCH formulation: each click joins
    // the same user's errors in [ts, ts + 30 min]. withWatermark is a
    // no-op on batch frames, so this runs the EXACT code path
    // StreamingSpec drives as a stream (batch == streaming by
    // construction) — and the oracle is DuckDB's own interval-predicate
    // join, algorithm-independent of Spark's
    "e66_stream_interval_join" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
      RelationalOps.streamIntervalJoin(
        ev.filter(col("event_type") === "click")
          .select("event_id", "ts", "user_id", "value"),
        ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_event_id"), col("ts").as("err_ts"),
            col("user_id").as("err_user_id"), col("value").as("err_value")),
        key = "user_id", rightKey = "err_user_id",
        leftTs = "ts", rightTs = "err_ts",
        within = "30 minutes", watermark = "10 minutes")
    }),
    // sessionization: per-user activity sessions at a 4-hour inactivity
    // gap (built-in session_window aggregation — the streaming-identical
    // plan). value summed as exact millis so the aggregate is
    // order-independent (double sums are not)
    "e20_sessionize" -> ((s, dir) => {
      val ev = s.read.parquet(s"$dir/events.parquet")
        .withColumn("value_milli", floor(col("value") * 1000 + 0.5).cast("long"))
      RelationalOps.sessionize(ev, key = "user_id", ts = "ts", gap = "4 hours",
        sum(col("value_milli")).as("sum_value_milli"))
    }),
    // multi-level metrics: (engine, status) counts + per-engine subtotals
    // + grand total in ONE rollup pass (single shuffle, no groupBy union)
    "e21_status_rollup" -> ((s, dir) => {
      MetricsStage.statusRollup(extracted(s, dir, "all"))
    }),
    // outlink extraction (the web-graph side of the kernel): every
    // <a href> with canonicalized anchor text, in document order, from
    // the raw page bytes. Link scan runs in the SCAN stage (map-side,
    // raw bytes never shuffle); the re-crawl dedup then carries only
    // (url, small link array), mirroring the main pipeline's
    // extract-before-dedup ordering. Oracle: every generator href/anchor
    // is a pure function of doc_id, reconstructed per template family.
    "e22_outlinks" -> ((s, dir) => {
      import s.implicits._
      pagesOf(s, onlyKind(docs(s, dir), "html"))
        .map(p => (p.url, graft.core.Links.outlinks(p.html).map(l => (l.href, l.anchor))))
        .toDF("url", "links")
        .dropDuplicates("url")
        .select(col("url"), posexplode(col("links")))
        .toDF("url", "link_no", "l")
        .select(col("url"), col("link_no"), col("l._1").as("href"), col("l._2").as("anchor"))
    }),
    // canonical resolved link graph: every parsed href resolved against
    // its page URL (RFC 3986 — relative merge, dot segments, default
    // ports, fragments) into absolute node ids; non-crawlable schemes
    // drop. Resolution is a pure per-row kernel in the scan stage —
    // this is the edge list a crawl frontier / host graph keys on.
    "e25_resolved_links" -> ((s, dir) => {
      import s.implicits._
      pagesOf(s, onlyKind(docs(s, dir), "html"))
        .map(p => (p.url, graft.core.Links.outlinks(p.html)
          .flatMap(l => graft.core.Urls.resolve(p.url, l.href))))
        .toDF("url", "resolved")
        .dropDuplicates("url")
        .select(col("url"), posexplode(col("resolved")))
        .toDF("url", "link_no", "to_url")
    }),
    // document metadata (first <title>, first <h1>): the index-table
    // fields next to the extracted body — map-side scan like e22, the
    // dedup shuffle carries three short strings per url
    "e27_doc_metadata" -> ((s, dir) => {
      import s.implicits._
      pagesOf(s, onlyKind(docs(s, dir), "html"))
        .map { p => val m = graft.core.Meta.metaOf(p.html); (p.url, m.title, m.h1) }
        .toDF("url", "title", "h1")
        .dropDuplicates("url")
    }),
    // host-level PageRank over the REAL parsed link graph (the blogroll
    // cross-host links in template families B/C): pages -> outlinks ->
    // absolute hrefs -> (src_host, dst_host) edges -> 3 power iterations
    // in integer arithmetic (bit-reproducible across partitionings; the
    // oracle unrolls the same iterations in SQL). Host rank is a standard
    // corpus-curation signal (weight/filter documents by host authority).
    "e23_host_rank" -> ((s, dir) =>
      graft.datapipe.GraphOps.hostRank(hostEdges(s, dir))),
    // host-level link reciprocity over the e23 edge base: the
    // link-exchange fingerprint — out-neighbors that link back
    "e60_reciprocity" -> ((s, dir) =>
      graft.datapipe.GraphOps.reciprocity(hostEdges(s, dir))),
    // host curation scorecard: rank x reciprocity x degree with the
    // ring-before-authority verdict precedence
    "e65_host_scorecard" -> ((s, dir) =>
      graft.datapipe.GraphOps.hostScorecard(hostEdges(s, dir))),
    // BFS crawl-depth from a hash-deterministic seed set over the e23
    // host graph: min-hops label propagation, NULL = beyond the
    // 3-hop horizon (unreached-from-seeds is itself the signal)
    "e46_crawl_depth" -> ((s, dir) => {
      val edges = hostEdges(s, dir)
      val nodes = edges.select(col("src").as("host"))
        .union(edges.select(col("dst").as("host"))).distinct()
      val seeds = nodes.filter(
        pmod(conv(substring(md5(concat(lit("seed:"), col("host"))), 1, 15),
          16, 10).cast("long"), lit(7L)) === 0L)
      graft.datapipe.GraphOps.crawlDepth(edges, seeds)
    }),
    // weakly-connected components over the e23 host graph: hash-min
    // label propagation on the undirected edge set, 4 rounds; comp =
    // lexicographic-min host within 4 hops, comp_size = hosts under
    // that label — the mirror-farm / link-ring detection feature
    "e48_components" -> ((s, dir) =>
      graft.datapipe.GraphOps.connectedComponents(hostEdges(s, dir))),
    // per-host triangles + clustering coefficient over the e23 host
    // graph: degree-ordered orientation (oriented out-degree bounded by
    // O(sqrt(m)) — the hub-safe wedge enumeration), cc_ppm NULL below
    // degree 2 — the link-ring / clique-farm fingerprint
    "e49_triangles" -> ((s, dir) =>
      graft.datapipe.GraphOps.triangles(hostEdges(s, dir))),
    // sitemap-vs-crawl coverage audit: the declared side is GENUINELY
    // parsed from urlset XML (entity decoding must survive the join —
    // the &amp; loc only overlaps its crawled twin if decoded), the
    // crawled side is the deterministic fetch log; per-host overlap,
    // missing, extra, coverage_ppm (NULL when nothing declared)
    "e47_sitemap_coverage" -> ((s, dir) => {
      import s.implicits._
      val base = docs(s, dir).select(col("doc_id")).as[Long]
      val declared = base.filter(_ % 4 == 0)
        .flatMap { id =>
          val h = s"sm${id % 11}.example.com"
          val locs = Seq("p0", "p1", "p2?x=1&amp;y=2")
            .map(p => s"<url><loc>https://$h/$p</loc></url>").mkString
          graft.core.Sitemaps.parse(s"<urlset>$locs</urlset>").entries.map(_.loc)
        }.toDF("url")
      val crawled = base.map { id =>
        val p = if (id % 5 == 2) "p2?x=1&y=2" else s"p${id % 5}"
        s"https://sm${id % 11}.example.com/$p"
      }.toDF("url")
      graft.datapipe.GraphOps.sitemapCoverage(declared, crawled)
    }),
    // HITS hub/authority over the SAME host edge table as e23 — the
    // directory-vs-content separation PageRank can't express; integer
    // division-only normalization; oracle unrolls the 3 iterations
    "e44_hits" -> ((s, dir) =>
      graft.datapipe.GraphOps.hits(hostEdges(s, dir))),
    // inlink anchor-text profile per host (e22's parsed links, e23's
    // edge derivation): inlinks, distinct linking hosts, top anchor
    // text. Anchor text is the classic off-page curation signal —
    // promo-anchored hosts ("shop the big sale") score differently
    // from topically-anchored ones. No window: top anchor is a
    // min(struct) aggregate, so every shuffle is host-keyed and
    // map-side combined.
    "e24_anchor_profile" -> ((s, dir) => {
      import s.implicits._
      val links = pagesOf(s, onlyKind(docs(s, dir), "html"))
        .map(p => (p.url, graft.core.Links.outlinks(p.html)
          .filter(_.href.startsWith("https://")).map(l => (l.href, l.anchor))))
        .toDF("url", "links").dropDuplicates("url")
      val edges = links.select(
        regexp_extract(col("url"), "https://([^/]+)/", 1).as("src"),
        explode(col("links")).as("l"))
        .select(col("src"),
          regexp_extract(col("l._1"), "https://([^/]+)/", 1).as("dst"),
          col("l._2").as("anchor"))
      graft.datapipe.GraphOps.anchorProfile(edges)
    }),
    // crawl-frontier construction: distinct resolved targets minus the
    // crawled set (left anti on the url key), in-degree priority, and
    // RefinedWeb-style URL rules (spam/nav paths blocked before fetch)
    "e26_crawl_frontier" -> ((s, dir) => {
      val (edges, crawled) = linkGraphOf(s, dir)
      graft.datapipe.GraphOps.crawlFrontier(edges, crawled)
    }),
    // dangling-outlink (link-rot) rate per source host over the same
    // parsed link graph: edges left-join the crawled set, host rollup
    "e57_link_rot" -> ((s, dir) => {
      val (edges, crawled) = linkGraphOf(s, dir)
      graft.datapipe.GraphOps.linkRot(edges, crawled)
    }),
    // RFC 9309 robots filtering of the frontier: per-host prefix rule
    // groups synthesized deterministically from the host name (md5 'rb:'
    // key — a fetcher would populate the table from robots.txt bodies),
    // exercising longest-match override (/cat disallowed but /cat/1
    // re-allowed), the allow-wins tie (duplicate /rel rules), root
    // disallow, and the no-rules default
    "e28_robots_filter" -> ((s, dir) => {
      val (edges, crawled) = linkGraphOf(s, dir)
      // branch point (the p1/p2 persist convention): targets feed both the
      // filter input and the rule synthesis — without the persist the
      // kernel parse + frontier pipeline re-runs per consumer
      val targets = graft.datapipe.GraphOps.crawlFrontier(edges, crawled)
        .select("to_url")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
      graft.datapipe.GraphOps.robotsFilter(targets, syntheticRobotsRules(s, targets))
    }),
    // per-host politeness fetch schedule over the allowed frontier:
    // budget-capped per host per cycle (salted two-stage top-N, the t13
    // pattern — a mega-host's frontier never pins one task), in-degree
    // priority, slot * delayMs fetch offsets a host-partitioned fetcher
    // fleet obeys with zero coordination
    "e29_politeness_schedule" -> ((s, dir) => {
      val (edges, crawled) = linkGraphOf(s, dir)
      graft.datapipe.GraphOps.politenessSchedule(
        graft.datapipe.GraphOps.crawlFrontier(edges, crawled))
    }),
    // budget-composed fetch plan (e70 ∘ e29): Hamilton quotas over the
    // allowed frontier's host mix truncate the politeness slots —
    // prime budget 61 so remainders bite, maxPerHost 3 < slots 4 so
    // the quota truncation is visible on every granted host
    "e71_budgeted_schedule" -> ((s, dir) => {
      val (edges, crawled) = linkGraphOf(s, dir)
      graft.datapipe.GraphOps.budgetedSchedule(
        graft.datapipe.GraphOps.crawlFrontier(edges, crawled),
        budget = 61L, slots = 4, maxPerHost = 3L)
    }),
    // composed CRAWL-CYCLE pipeline (the crawl-side analog of p1/p2):
    // frontier construction -> heuristic URL rules -> RFC 9309 robots
    // filter -> politeness schedule, in one plan. The frontier persists
    // at the branch point (it feeds the rule-allowed target set, the
    // robots rule synthesis through it, AND the scheduler's n_refs); the
    // schedule ranks only targets that passed BOTH gates, so slots
    // differ from e29's whenever robots removed a better-ranked url —
    // the real fetch queue a crawler hands its fleet each cycle
    "p5_crawl_pipeline" -> ((s, dir) => {
      val (edges, crawled) = linkGraphOf(s, dir)
      val frontier = graft.datapipe.GraphOps.crawlFrontier(edges, crawled)
        .filter(col("allowed"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
      val targets = frontier.select("to_url")
      val rb = graft.datapipe.GraphOps
        .robotsFilter(targets, syntheticRobotsRules(s, targets))
        .filter(col("robots_allowed")).select("to_url")
      graft.datapipe.GraphOps.politenessSchedule(frontier.join(rb, "to_url"))
    }),
    // broadcast Bloom-filter "seen" test over crawl candidates: the
    // map-only replacement for the frontier's exact anti-join at 10^12
    // crawled urls — deterministic md5 bit positions so the oracle
    // rebuilds the identical filter and the false-positive behavior is
    // itself verified. Candidates = all resolved link targets PLUS a
    // deterministic md5-sampled third of the crawled urls (re-discovered
    // links — on this corpus targets and crawled are otherwise disjoint,
    // so the 'seen' verdict would be vacuous without them)
    "e31_bloom_seen" -> ((s, dir) => {
      val (edges, crawled) = linkGraphOf(s, dir)
      val rediscovered = crawled
        .filter(pmod(conv(substring(md5(col("url")), 1, 15), 16, 10)
          .cast("long"), lit(3L)) === 0)
        .select(col("url").as("to_url"))
      graft.datapipe.GraphOps.bloomSeen(
        edges.select("to_url").union(rediscovered), crawled)
    }),
    // SEO-level URL canonicalization over a synthetic fetch log (the
    // aug pattern — urls decorated with www prefixes, fragments,
    // tracking params, permuted param order): map-only fold chain whose
    // canonical key then feeds exact dedup / the bloom seen-set
    "e32_url_canonical" -> ((s, dir) => {
      val d = docs(s, dir)
      val host = when(col("doc_id") % 10 < 3, lit("big.example.com"))
        .otherwise(concat(lit("h"), col("doc_id") % 97, lit(".example.com")))
      val raw = concat(
        lit("https://"),
        when(col("doc_id") % 6 === 2, lit("www.")).otherwise(lit("")),
        host, lit("/page/"), col("doc_id") % 50,
        when(col("doc_id") % 3 === 0,
          concat(lit("?utm_source=news&utm_campaign=c"), col("doc_id") % 7))
          .when(col("doc_id") % 3 === 1,
            concat(lit("?b="), col("doc_id") % 5, lit("&utm_medium=email&a=1")))
          .otherwise(lit("")),
        when(col("doc_id") % 4 === 1, concat(lit("#sec"), col("doc_id") % 3))
          .otherwise(lit("")))
      graft.datapipe.GraphOps.canonicalizeUrls(
        d.select(col("doc_id"), raw.as("url")))
    }),
    // in-page crawl directives over synthesized html: first
    // link[rel~=canonical] href + first meta[name=robots] content with
    // noindex/nofollow flags; decoys pin comment + raw-text immunity
    // alt-text coverage through the real <img> scanner: caption-pair
    // yield + accessibility audit (absent vs empty alt distinguished)
    "e64_alt_coverage" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long].map { id =>
        val html = (id % 5) match {
          case 0 =>
            s"""<html><body><img src="/i/${id % 9}.jpg" alt="Photo of item ${id % 7}"><p>t</p><img src=/j/${id % 4}.png alt=''></body></html>"""
          case 1 => s"""<html><body><img src="/k/${id % 5}.gif"></body></html>"""
          case 2 =>
            s"""<html><body><script>var x = '<img src=/fake.png>';</script><img src="/m/${id % 3}.webp" alt="chart ${id % 11}"></body></html>"""
          case 3 => s"<html><body><p>no images $id</p></body></html>"
          case _ => s"""<html><body><IMG SRC=/u/${id % 6} ALT=banner /></body></html>"""
        }
        val imgs = graft.core.Links.images(html.getBytes("UTF-8"))
        val withAlt = imgs.count(_.hasAlt)
        val dec = imgs.count(im => im.hasAlt && im.alt.isEmpty)
        (id, imgs.length, withAlt, imgs.length - withAlt, dec,
          imgs.filter(_.hasAlt).map(_.alt.length).sum.toLong)
      }.toDF("doc_id", "n_imgs", "n_with_alt", "n_missing_alt",
        "n_decorative", "alt_chars")
    }),
    // robots.txt vs meta-robots reconciliation through BOTH real
    // parsers: the four-way effective-policy verdict, including the
    // classic trap — a noindex the engine can never see because
    // robots.txt blocks the fetch
    "e63_policy_reconcile" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long].map { id =>
        val path = s"/p${id % 4}/doc$id"
        val robotsBody =
          "User-agent: *\nDisallow: /p0/\nDisallow: /p1/\nAllow: /p1/doc\n"
        val html = (id % 3) match {
          case 0 => s"""<html><head><META NAME="ROBOTS" CONTENT="NOINDEX, nofollow"></head><body>d$id</body></html>"""
          case 1 => s"<html><head><meta name=robots content=none></head><body>d$id</body></html>"
          case _ => s"""<html><head><meta name=robots content="index, follow"></head><body>d$id</body></html>"""
        }
        val pol = graft.core.Robots.parse(robotsBody, "graftbot")
        val matching = pol.rules.filter(r => path.startsWith(r.prefix))
        // longest-prefix wins, allow beats disallow on equal length,
        // no match defaults to allow (the e28 decision rule)
        val allowed = matching.isEmpty ||
          matching.maxBy(r => (r.prefix.length, r.allow)).allow
        val noindex =
          graft.core.Directives.directives(html.getBytes("UTF-8")).noindex
        val verdict =
          if (!allowed && noindex) "blocked_hidden_noindex"
          else if (!allowed) "blocked"
          else if (noindex) "crawl_noindex"
          else "indexable"
        (id, path, allowed, noindex, verdict)
      }.toDF("doc_id", "path", "fetch_allowed", "meta_noindex", "verdict")
    }),
    "e35_page_directives" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val html = when(id % 5 === 0, concat(
          lit("<html><head><link rel=\"canonical\" href=\"https://c.example.com/p"),
          id % 50, lit("\"></head><body>x</body></html>")))
        .when(id % 5 === 1, concat(
          lit("<html><head><META NAME=\"ROBOTS\" CONTENT=\"NOINDEX, nofollow\"></head><body>doc "),
          id, lit("</body></html>")))
        .when(id % 5 === 2, concat(
          lit("<html><head><link rel='alternate canonical' href=https://c.example.com/q"),
          id % 7, lit("><meta name=robots content=none></head><body>y</body></html>")))
        .when(id % 5 === 3, concat(
          lit("<html><head><link rel=\"canonical\" href=\"https://first.example.com/a"),
          id % 3,
          lit("\"><link rel=\"canonical\" href=\"https://second.example.com/b\">" +
            "<meta name=\"robots\" content=\"index, follow\"></head><body>z</body></html>")))
        .otherwise(concat(
          lit("<html><head><link rel=\"stylesheet\" href=\"/s.css\">" +
            "<!-- <link rel=\"canonical\" href=\"https://no.example.com\"> -->" +
            "<script>var x = '<meta name=\"robots\" content=\"noindex\">';</script>" +
            "</head><body>doc "), id, lit("</body></html>")))
      docs(s, dir).select(id, html.as("html")).as[(Long, String)]
        .map { case (i2, h) =>
          val d = graft.core.Directives.scan(h)
          (i2, Option(d.canonical), Option(d.robots), d.noindex, d.nofollow)
        }
        .toDF("doc_id", "canonical", "robots", "noindex", "nofollow")
    }),
    // rel=canonical cluster rollup over the e35 html families, scanned
    // by the REAL Directives parser map-side (first-canonical-wins and
    // comment/script decoy immunity must survive into the aggregation
    // for the oracle to match): clusters by declared target with
    // coalesce-to-self for undeclared pages, cross-host counts, min rep
    "e52_canonical_clusters" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(id % 10 < 3, lit("big.example.com"))
          .otherwise(concat(lit("h"), id % 97, lit(".example.com"))),
        lit("/doc/"), id)
      val html = when(id % 5 === 0, concat(
          lit("<html><head><link rel=\"canonical\" href=\"https://c.example.com/p"),
          id % 50, lit("\"></head><body>x</body></html>")))
        .when(id % 5 === 2, concat(
          lit("<html><head><link rel='alternate canonical' href=https://c.example.com/q"),
          id % 7, lit("></head><body>y</body></html>")))
        .when(id % 5 === 3, concat(
          lit("<html><head><link rel=\"canonical\" href=\"https://first.example.com/a"),
          id % 3,
          lit("\"><link rel=\"canonical\" href=\"https://second.example.com/b\"></head><body>z</body></html>")))
        .otherwise(concat(
          lit("<html><head><!-- <link rel=\"canonical\" href=\"https://no.example.com\"> -->" +
            "</head><body>doc "), id, lit("</body></html>")))
      val pages = docs(s, dir).select(url.as("url"), html.as("html"))
        .as[(String, String)]
        .map { case (u, h) =>
          (u, Option(graft.core.Directives.scan(h).canonical))
        }
        .toDF("url", "canonical")
      graft.datapipe.GraphOps.canonicalClusters(pages)
    }),
    // schema.org JSON-LD extraction: the Directives scanner captures
    // <script type="application/ld+json"> bodies (media-type token
    // match with params/case folded, comment + typeless-script decoys,
    // document order), then CATALYST parses them — from_json pulls
    // @type/name/datePublished and the nested author.name; malformed
    // JSON keeps its row with null fields (error-as-data)
    "e53_jsonld" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val html = when(id % 6 === 0, concat(
          lit("<html><head><script type=\"application/ld+json\">" +
            "{\"@context\":\"https://schema.org\",\"@type\":\"Article\",\"name\":\"Doc "),
          id, lit("\",\"datePublished\":\"2026-05-1"), id % 10,
          lit("\"}</script></head><body>a</body></html>")))
        .when(id % 6 === 1, concat(
          lit("<html><head><script type=\"application/ld+json\">{\"@type\":\"Article\",\"name\":\"A"),
          id,
          lit("\"}</script><script type=\"application/ld+json\">{\"@type\":\"Product\",\"name\":\"P"),
          id, lit("\"}</script></head><body>b</body></html>")))
        .when(id % 6 === 2, concat(
          lit("<html><head><script>var x = '{\"@type\":\"Fake\"}';</script>" +
            "<SCRIPT TYPE=\"APPLICATION/LD+JSON; charset=utf-8\">{\"@type\":\"NewsArticle\",\"name\":\"N"),
          id, lit("\"}</SCRIPT></head><body>c</body></html>")))
        .when(id % 6 === 3, concat(
          lit("<html><head><!-- <script type=\"application/ld+json\">" +
            "{\"@type\":\"Ghost\"}</script> --></head><body>doc "),
          id, lit("</body></html>")))
        .when(id % 6 === 4, concat(
          lit("<html><head><script type=\"application/ld+json\">{\"oops\" "),
          id, lit("}</script></head><body>e</body></html>")))
        .otherwise(concat(
          lit("<html><head><script type=\"application/ld+json\">" +
            "{\"@type\":\"Article\",\"name\":\"X"), id,
          lit("\",\"author\":{\"@type\":\"Person\",\"name\":\"Au"), id,
          lit("\"}}</script></head><body>f</body></html>")))
      val blocks = docs(s, dir).select(id, html.as("html")).as[(Long, String)]
        .flatMap { case (i2, h) =>
          graft.core.Directives.scan(h).jsonld.zipWithIndex
            .map { case (b, ix) => (i2, ix, b) }
        }
        .toDF("doc_id", "idx", "block")
      val p = from_json(col("block"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "`@type` STRING, name STRING, datePublished STRING, author STRUCT<name: STRING>"))
      blocks.select(col("doc_id"), col("idx"), col("block"),
        p.getField("@type").as("ld_type"), p.getField("name").as("name"),
        p.getField("datePublished").as("date_published"),
        p.getField("author").getField("name").as("author_name"))
    }),
    // meta-refresh extraction: the in-band redirect channel beside
    // e34's Location chains — WHATWG grammar core (mandatory digits,
    // ';' or ',' separator, optional case-insensitive url= with
    // optional quotes); no-digits invalidates the whole directive;
    // decoys pin comment immunity and name-vs-http-equiv
    "e54_meta_refresh" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val html = when(id % 5 === 0, concat(
          lit("<html><head><meta http-equiv=\"refresh\" content=\"0; url=https://t.example.com/r"),
          id % 40, lit("\"></head><body>a</body></html>")))
        .when(id % 5 === 1, concat(
          lit("<html><head><META HTTP-EQUIV=\"REFRESH\" CONTENT=\"5,URL='/next"),
          id % 7, lit("'\"></head><body>b</body></html>")))
        .when(id % 5 === 2, concat(
          lit("<html><head><meta http-equiv=\"refresh\" content=\"30\"></head><body>doc "),
          id, lit("</body></html>")))
        .when(id % 5 === 3, concat(
          lit("<html><head><!-- <meta http-equiv=\"refresh\" content=\"0; url=/ghost\"> -->" +
            "<meta name=\"refresh\" content=\"0; url=/wrong-attr\"></head><body>doc "),
          id, lit("</body></html>")))
        .otherwise(concat(
          lit("<html><head><meta http-equiv=\"refresh\" content=\"soon; url=/x"),
          id % 3, lit("\"></head><body>e</body></html>")))
      docs(s, dir).select(id, html.as("html")).as[(Long, String)]
        .map { case (i2, h) =>
          val d = graft.core.Directives.scan(h)
          val (delay, target) = graft.core.Directives.metaRefresh(d.refresh)
          (i2, Option(d.refresh), delay, target)
        }
        .toDF("doc_id", "refresh_raw", "delay_s", "target")
    }),
    // hreflang reciprocity audit: pages pair (2k, 2k+1); every even
    // page declares its odd partner, the partner declares BACK only
    // when k is even — asymmetric declarations (the classic hreflang
    // misconfig Google ignores) surface as reciprocated=false; edges
    // parsed map-side by the REAL Directives scanner (parse-through-
    // join), reciprocity = one self-join on the reversed pair
    "e56_hreflang_reciprocity" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      def u(c: org.apache.spark.sql.Column) =
        concat(lit("https://ml.example.com/p"), c)
      val declares = (id % 2 === 0) ||
        ((id % 2 === 1) && (((id - 1) / 2) % 2 === 0))
      val target = when(id % 2 === 0, u(id + 1)).otherwise(u(id - 1))
      val html = when(declares, concat(
          lit("<html><head><link rel=\"alternate\" hreflang=\"de\" href=\""),
          target, lit("\"></head><body>x</body></html>")))
        .otherwise(lit("<html><head></head><body>y</body></html>"))
      val edges = docs(s, dir)
        .select(u(id).as("src"), id, html.as("html"))
        .as[(String, Long, String)]
        .flatMap { case (src, _, h) =>
          graft.core.Directives.scan(h).alternates.map {
            case (lang, href) => (src, lang, href)
          }
        }
        .toDF("src", "lang", "dst")
      graft.datapipe.GraphOps.hreflangReciprocity(edges)
    }),
    // title-vs-og:title agreement audit: the two title channels parsed
    // by their REAL scanners (Meta RCDATA title, Directives og) in one
    // pass each; disagreement is the template-chrome tell
    "e58_title_og_diff" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val html = when(id % 5 === 0, concat(
          lit("<html><head><title>Same "), id,
          lit("</title><meta property=\"og:title\" content=\"Same "), id,
          lit("\"></head><body>a</body></html>")))
        .when(id % 5 === 1, concat(
          lit("<html><head><title>Chrome | Site</title>" +
            "<meta property=\"og:title\" content=\"Real headline "), id % 13,
          lit("\"></head><body>b</body></html>")))
        .when(id % 5 === 2, concat(
          lit("<html><head><title>Only title "), id % 7,
          lit("</title></head><body>c</body></html>")))
        .when(id % 5 === 3, concat(
          lit("<html><head><meta property=\"og:title\" content=\"Only og "), id % 3,
          lit("\"></head><body>d</body></html>")))
        .otherwise(concat(
          lit("<html><head></head><body>doc "), id, lit("</body></html>")))
      docs(s, dir).select(id, html.as("html")).as[(Long, String)]
        .map { case (i2, h) =>
          val t = Option(graft.core.Meta.metaOf(h.getBytes("UTF-8")).title)
            .map(_.trim).filter(_.nonEmpty)
          val og = graft.core.Directives.scan(h).og.get("og:title")
            .map(_.trim).filter(_.nonEmpty)
          val verdict = (t, og) match {
            case (Some(a), Some(b)) => if (a == b) "match" else "differs"
            case (Some(_), None) => "og_missing"
            case (None, Some(_)) => "title_missing"
            case _ => "both_missing"
          }
          (i2, t, og, verdict)
        }
        .toDF("doc_id", "title", "og_title", "verdict")
    }),
    // OpenGraph core harvest: og:title/description/type/image from
    // meta[property] (property gate, case-folded keys, first-wins);
    // decoys pin name-vs-property and comment immunity
    "e55_og_harvest" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val html = when(id % 5 === 0, concat(
          lit("<html><head><meta property=\"og:title\" content=\"T"), id,
          lit("\"><meta property=\"og:description\" content=\"D"), id,
          lit("\"><meta property=\"og:type\" content=\"article\">" +
            "<meta property=\"og:image\" content=\"https://img.example.com/i"),
          id % 9, lit(".jpg\"></head><body>a</body></html>")))
        .when(id % 5 === 1, concat(
          lit("<html><head><META PROPERTY=\"OG:Title\" CONTENT=\"U"), id,
          lit("\"></head><body>b</body></html>")))
        .when(id % 5 === 2, concat(
          lit("<html><head><meta property=\"og:title\" content=\"first"), id % 7,
          lit("\"><meta property=\"og:title\" content=\"second\">" +
            "<meta property=\"og:type\" content=\"website\"></head><body>c</body></html>")))
        .when(id % 5 === 3, concat(
          lit("<html><head><meta name=\"og:title\" content=\"wrong-attr\">" +
            "<!-- <meta property=\"og:image\" content=\"/ghost.png\"> --></head><body>doc "),
          id, lit("</body></html>")))
        .otherwise(concat(
          lit("<html><head><title>plain</title></head><body>doc "), id,
          lit("</body></html>")))
      docs(s, dir).select(id, html.as("html")).as[(Long, String)]
        .map { case (i2, h) =>
          val og = graft.core.Directives.scan(h).og
          (i2, og.get("og:title"), og.get("og:description"),
            og.get("og:type"), og.get("og:image"))
        }
        .toDF("doc_id", "og_title", "og_description", "og_type", "og_image")
    }),
    // sitemap parsing over synthesized xml kinds: urlset entries (CDATA
    // + entity locs, optional lastmod), a sitemapindex, a loc-less entry
    // skipped, and an invalid document as error-as-data
    "e37_sitemap_entries" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val xml = when(id % 5 === 0, concat(
          lit("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
            "<url><loc>https://s"), id % 7, lit(".example.com/p0</loc><lastmod>2026-01-0"),
          id % 9 + 1, lit("</lastmod></url>" +
            "<url><loc><![CDATA[https://s"), id % 7, lit(".example.com/p1?a=1&b=2]]></loc></url>" +
            "<url><loc>https://s"), id % 7, lit(".example.com/p2?x=1&amp;y=2</loc></url></urlset>")))
        .when(id % 5 === 1, concat(
          lit("<sitemapindex><sitemap><loc>https://t"), id % 6,
          lit(".example.com/sitemap0.xml</loc></sitemap><sitemap><loc>https://t"), id % 6,
          lit(".example.com/sitemap1.xml</loc></sitemap></sitemapindex>")))
        .when(id % 5 === 2, concat(
          lit("<urlset><url><lastmod>2026-02-01</lastmod></url>" +
            "<url><loc>https://u"), id % 3, lit(".example.com/only</loc></url></urlset>")))
        .when(id % 5 === 3, lit("<html><body>not a sitemap</body></html>"))
        .otherwise(lit("<urlset></urlset>"))
      docs(s, dir).select(id, xml.as("xml")).as[(Long, String)]
        .flatMap { case (i2, x) =>
          val sm = graft.core.Sitemaps.parse(x)
          if (sm.kind == "invalid")
            Seq((i2, "invalid", None: Option[Int], None: Option[String], None: Option[String]))
          else sm.entries.map(e =>
            (i2, sm.kind, Some(e.idx), Some(e.loc), Option(e.lastmod)))
        }
        .toDF("doc_id", "kind", "idx", "loc", "lastmod")
    }),
    // RSS/Atom feed parsing — the PUSH side of crawl discovery beside
    // e37's sitemaps: dialect-correct link extraction (RSS element text
    // vs Atom href attribute with rel=self skipped), CDATA/entity rules,
    // case-insensitive tags, linkless entries skipped, invalid-root row
    "e42_feed_entries" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val xml = when(id % 5 === 0, concat(
          lit("<?xml version=\"1.0\"?><!-- gen --><rss version=\"2.0\"><channel>" +
            "<title>Chan</title><link>https://f"), id % 7, lit(".example.com/</link>" +
            "<item><title>Post &amp; notes "), id % 4,
          lit("</title><link>https://f"), id % 7,
          lit(".example.com/a0?x=1&amp;y=2</link><pubDate>Mon, 0"), id % 9 + 1,
          lit(" Jan 2026 00:00:00 GMT</pubDate></item>" +
            "<item><title><![CDATA[Raw <b> title]]></title><link>https://f"), id % 7,
          lit(".example.com/a1</link></item>" +
            "<item><title>No link</title></item></channel></rss>")))
        .when(id % 5 === 1, concat(
          lit("<feed xmlns=\"http://www.w3.org/2005/Atom\"><title>A</title>" +
            "<entry><title>E0 "), id % 4,
          lit("</title><link rel=\"self\" href=\"https://a"), id % 6,
          lit(".example.com/self0\"/><link rel=\"alternate\" href=\"https://a"), id % 6,
          lit(".example.com/e0\"/><updated>2026-03-0"), id % 9 + 1,
          lit("T00:00:00Z</updated></entry>" +
            "<entry><title>E1</title><link href=\"https://a"), id % 6,
          lit(".example.com/e1?a=1&amp;b=2\"/></entry>" +
            "<entry><title>Only self</title><link rel=\"self\" href=\"https://a"), id % 6,
          lit(".example.com/selfonly\"/></entry></feed>")))
        .when(id % 5 === 2, concat(
          lit("<RSS><CHANNEL><ITEM><TITLE>Up "), id % 4,
          lit("</TITLE><LINK>https://u"), id % 3,
          lit(".example.com/up</LINK><PUBDATE>Tue, 10 Feb 2026 00:00:00 GMT</PUBDATE>" +
            "</ITEM></CHANNEL></RSS>")))
        .when(id % 5 === 3, lit("<html><body>not a feed</body></html>"))
        .otherwise(lit("<feed><title>empty</title></feed>"))
      docs(s, dir).select(id, xml.as("xml")).as[(Long, String)]
        .flatMap { case (i2, x) =>
          val f = graft.core.Feeds.parse(x)
          if (f.kind == "invalid")
            Seq((i2, "invalid", None: Option[Int], None: Option[String],
              None: Option[String], None: Option[String]))
          else f.entries.map(e =>
            (i2, f.kind, Some(e.idx), Option(e.title), Some(e.link), Option(e.stamp)))
        }
        .toDF("doc_id", "kind", "idx", "title", "link", "stamp")
    }),
    // publication-date extraction — meta article:published_time, then
    // first <time datetime>, then /YYYY/MM/DD/ in the URL path; an
    // invalid source FALLS THROUGH (garbage meta must not mask a good
    // <time>); commented-out metas and datetime-less <time> are decoys
    "e43_pub_dates" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val day = id % 9 + 1
      val url = concat(lit("https://s"), id % 7, lit(".example.com"),
        when(id % 6 === 0 || id % 6 === 1 || id % 6 === 2,
          concat(lit("/2026/03/0"), day)).otherwise(lit("")),
        concat(lit("/post-"), id))
      val html = when(id % 6 === 0, concat(
          lit("<html><head><meta property=\"article:published_time\" content=\"2026-01-0"),
          day, lit("T08:30:00Z\"><meta property=\"og:title\" content=\"decoy\"></head>" +
            "<body><time datetime=\"2026-02-01\">Feb</time>x</body></html>")))
        .when(id % 6 === 1, concat(
          lit("<html><body><time>undated decoy</time><p>posted <time datetime=\"2026-02-1"),
          id % 9, lit("\">then</time></p></body></html>")))
        .when(id % 6 === 2, lit("<html><body>no in-page date</body></html>"))
        .when(id % 6 === 3, lit("<html><head>" +
          "<!-- <meta property=\"article:published_time\" content=\"2020-01-01\"> -->" +
          "</head><body>none</body></html>"))
        .when(id % 6 === 4, concat(
          lit("<html><head><meta property=\"article:published_time\" content=\"soon\"></head>" +
            "<body><time datetime=\"2026-04-0"), day, lit("\">x</time></body></html>")))
        .otherwise(concat(
          lit("<html><head><meta property='ARTICLE:PUBLISHED_TIME' content='2026-05-0"),
          day, lit("'></head><body>q</body></html>")))
      docs(s, dir).select(id, url.as("url"), html.as("html")).as[(Long, String, String)]
        .map { case (i2, u, h) =>
          val (dt, src) = graft.core.Directives.pubDate(graft.core.Directives.scan(h), u)
          (i2, Option(dt), src)
        }
        .toDF("doc_id", "pub_date", "source")
    }),
    // robots.txt grammar parsing — the producer half of e28's rule
    // table: UA-group selection (longest prefix wins, graft < graftbot),
    // stacked UA lines, same-token group merge in file order, orphan
    // rules dropped, empty Disallow = allow-all (no rule), trailing
    // comments, case-insensitive keys, CRLF bodies, global Sitemap
    // lines that don't break group structure, first-NUMERIC crawl-delay
    "e45_robots_rules" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val txt = when(id % 5 === 0, concat(
          lit("User-agent: *\nDisallow: /private/\n" +
            "User-agent: graftbot\nAllow: /a"), id % 4, lit("/\nDisallow: /\n" +
            "User-agent: graft\nDisallow: /g/\n" +
            "User-agent: graftbot\nDisallow: /z"), id % 3, lit("/\n")))
        .when(id % 5 === 1, concat(
          lit("Disallow: /orphan/\nUser-Agent: alpha\nUser-agent: GRAFTBOT\n" +
            "DISALLOW: /c"), id % 5, lit("/ # trailing comment\nallow: /c"),
          id % 5, lit("/deep\nCrawl-delay: "), id % 7 + 1,
          lit("\nNoindex: zz\nDisallow:\n")))
        .when(id % 5 === 2, concat(
          lit("User-agent: otherbot\r\nDisallow: /\r\n" +
            "User-agent: *\r\nDisallow: /tmp"), id % 3, lit("/\r\n" +
            "User-agent: *\r\nSitemap: https://s"), id % 6,
          lit(".example.com/sitemap.xml\r\nAllow: /tmp"), id % 3, lit("/pub\r\n")))
        .when(id % 5 === 3, concat(
          lit("Sitemap: https://n"), id % 3,
          lit(".example.com/s.xml\nUser-agent: otherbot\nDisallow: /x/\n")))
        .otherwise(concat(
          lit("# corpus sitemaps\nSitemap: https://m"), id % 4,
          lit(".example.com/a.xml\nUser-agent: graftbot\nCrawl-delay: soon\n" +
            "Crawl-delay: "), id % 5 + 2, lit("\nDisallow: /only"), id % 2,
          lit("/\nSitemap: https://m"), id % 4, lit(".example.com/b.xml\n")))
      docs(s, dir).select(id, txt.as("txt")).as[(Long, String)]
        .flatMap { case (i2, t) =>
          val p = graft.core.Robots.parse(t, "graftbot")
          val sm = if (p.sitemaps.isEmpty) None else Some(p.sitemaps.mkString(","))
          // a rule-less policy is one marker row with allow=true: the
          // RFC's default-allow, stated as data rather than a NULL
          if (p.rules.isEmpty)
            Seq((i2, None: Option[Int], None: Option[String],
              Some(true), p.crawlDelay, sm))
          else p.rules.map(r =>
            (i2, Some(r.idx), Some(r.prefix), Some(r.allow), p.crawlDelay, sm))
        }
        .toDF("doc_id", "idx", "prefix", "allow", "crawl_delay", "sitemaps")
    }),
    // hreflang alternate extraction: the multilingual-cluster signal —
    // link[rel~=alternate][hreflang] pairs in document order; rel token
    // lists count, an alternate WITHOUT hreflang (RSS feeds) must not
    "e36_hreflang_alternates" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val html = when(id % 4 === 1, concat(
          lit("<html><head><link rel=\"alternate\" hreflang=\"en\" href=\"https://x"),
          id % 9, lit(".example.com/en\">" +
            "<link rel=\"alternate\" hreflang=\"DE\" href=\"https://x"),
          id % 9, lit(".example.com/de\">" +
            "<link rel=\"alternate\" hreflang=\"fr\" href=\"https://x"),
          id % 9, lit(".example.com/fr\"></head><body>a</body></html>")))
        .when(id % 4 === 2, concat(
          lit("<html><head><link rel=\"alternate\" hreflang=\"x-default\" href=\"https://y"),
          id % 5, lit(".example.com/\">" +
            "<link rel=\"stylesheet alternate\" hreflang=\"en\" href=\"https://y"),
          id % 5, lit(".example.com/en\">" +
            "<link rel=\"alternate\" href=\"/feed.xml\" type=\"application/rss+xml\">" +
            "</head><body>b</body></html>")))
        .otherwise(lit("<html><head></head><body>c</body></html>"))
      docs(s, dir).select(id, html.as("html")).as[(Long, String)]
        .flatMap { case (i2, h) =>
          graft.core.Directives.scan(h).alternates.zipWithIndex.map {
            case ((hl, href), ix) => (i2, ix, hl, href)
          }
        }
        .toDF("doc_id", "idx", "hreflang", "href")
    }),
    // redirect-chain resolution over a synthesized Location-edge graph:
    // per-doc chains of length doc_id%5 plus a closing cycle edge for
    // doc_id%7==3 — exercises terminal, exactly-at-cap, and cycle paths
    "e34_resolve_redirects" -> ((s, dir) => {
      val d = docs(s, dir)
      val chainLen = col("doc_id") % 5
      def node(j: org.apache.spark.sql.Column) =
        concat(lit("https://r"), col("doc_id"), lit(".example.com/"), j)
      val chain = d
        .select(col("doc_id"),
          explode(filter(sequence(lit(0), lit(4)), j => j < chainLen)).as("j"))
        .select(node(col("j")).as("src"), node(col("j") + 1).as("dst"))
      val cyc = d.filter(col("doc_id") % 7 === 3 && chainLen >= 1)
        .select(node(chainLen).as("src"), node(lit(0)).as("dst"))
      graft.datapipe.GraphOps.resolveRedirects(chain.unionByName(cyc))
    }),
    // publicsuffix.org registered-domain (eTLD+1) rollup over a host log
    // exercising every PSL rule class: multi-label suffixes, a private
    // registry (github.io), a wildcard (*.ck), its exception (!www.ck),
    // an unknown dotless host, and an 11-host spam-farm collapse
    "e33_domain_rollup" -> ((s, dir) => {
      val d = docs(s, dir)
      val host = when(col("doc_id") % 6 === 0,
          concat(lit("www.site"), col("doc_id") % 5, lit(".co.uk")))
        .when(col("doc_id") % 6 === 1,
          concat(lit("a"), col("doc_id") % 3, lit(".b"), col("doc_id") % 2, lit(".github.io")))
        .when(col("doc_id") % 6 === 2,
          concat(lit("sub"), col("doc_id") % 7, lit(".farm"), col("doc_id") % 4, lit(".com")))
        .when(col("doc_id") % 6 === 3,
          concat(lit("x"), col("doc_id") % 3, lit(".w"), col("doc_id") % 2, lit(".ck")))
        .when(col("doc_id") % 6 === 4,
          when(col("doc_id") % 12 === 4, lit("www.ck")).otherwise(lit("intranet")))
        .otherwise(concat(lit("h"), col("doc_id") % 11, lit(".example.org")))
      graft.datapipe.GraphOps.domainRollup(d.select(host.as("host")))
    }),
    // the host curation table (the crawl-side p4): rank + anchor profile
    // + crawled-page volume full-outer-composed per host; ONE kernel
    // link-parse persisted at the branch feeds all three signal trees
    "p6_host_table" -> ((s, dir) => {
      import s.implicits._
      val links = pagesOf(s, onlyKind(docs(s, dir), "html"))
        .map(p => (p.url, graft.core.Links.outlinks(p.html)
          .filter(_.href.startsWith("https://")).map(l => (l.href, l.anchor))))
        .toDF("url", "links").dropDuplicates("url")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
      val hostOf = (c: org.apache.spark.sql.Column) =>
        regexp_extract(c, "https://([^/]+)/", 1)
      val hostEdges = links
        .select(hostOf(col("url")).as("src"), explode(col("links")).as("l"))
        .select(col("src"), hostOf(col("l._1")).as("dst"), col("l._2").as("anchor"))
      graft.datapipe.GraphOps.hostTable(hostEdges,
        links.select(hostOf(col("url")).as("host")))
    }),
    // recrawl/snapshot delta: two deterministic snapshot views of the
    // corpus (old misses doc_id%7==3 -> 'new'; new misses %7==5 ->
    // 'gone'; %4==1 texts get an edit -> 'changed'; rest 'unchanged')
    // diffed by content hash on the key — the CDX-style crawl-
    // maintenance signal and the incremental-processing gate
    "e30_recrawl_delta" -> ((s, dir) => {
      val d = docs(s, dir)
      val oldSnap = d.filter(col("doc_id") % 7 =!= 3).select(col("doc_id"), col("text"))
      val newSnap = d.filter(col("doc_id") % 7 =!= 5).select(col("doc_id"),
        when(col("doc_id") % 4 === 1, concat(col("text"), lit(" upd")))
          .otherwise(col("text")).as("text"))
      graft.datapipe.RelationalOps.snapshotDelta(oldSnap, newSnap, keyCol = "doc_id")
    }),
    // section-aware chunking: e41's outline windowed into <=4-word
    // retrieval chunks, breadcrumb carried per chunk — the composition
    // the outline exists for; pure flatMap, no per-doc window function
    "t33_section_chunks" -> ((s, dir) => {
      import s.implicits._
      val maxWords = 4
      docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          graft.core.Outline.extract(graft.core.Outline.synthetic(id))
            .filter(_.text.nonEmpty)
            .flatMap { sec =>
              sec.text.split(' ').grouped(maxWords).zipWithIndex.map {
                case (ws, p) =>
                  (id, sec.idx, p, sec.path, ws.mkString(" "), ws.length)
              }
            }
        }
        .toDF("doc_id", "section_idx", "part_idx", "path", "chunk_text", "n_words")
    }),
    // heading-outline extraction over synthetic pages: breadcrumb stack
    // (sibling replace, skipped levels), preamble, unclosed-heading EOF
    "e41_heading_outline" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          graft.core.Outline.extract(graft.core.Outline.synthetic(id))
            .map(x => (id, x.idx, x.level, x.title, x.path, x.text))
        }
        .toDF("doc_id", "section_idx", "level", "title", "path", "sec_text")
    }),
    // HTML table-structure extraction over synthetic pages: lenient
    // grid recovery (omitted closers, nested tables, fostered text) on
    // the kernel's tokenizer; cells derive arithmetically for the oracle
    "e40_table_extract" -> ((s, dir) => {
      import s.implicits._
      docs(s, dir).select(col("doc_id")).as[Long]
        .flatMap { id =>
          graft.core.Tables.extract(graft.core.Tables.synthetic(id))
            .map(c => (id, c.tableIdx, c.rowIdx, c.colIdx, c.header, c.text))
        }
        .toDF("doc_id", "table_idx", "row_idx", "col_idx", "is_header", "cell_text")
    }),
    // HTTP cache-policy revalidation schedule over synthetic headers:
    // no-store/no-cache > max-age > Expires-Date > default, clamped to
    // [60s, 30d]; ETag beats Last-Modified for the conditional mode
    "e39_revalidation" -> ((s, dir) =>
      graft.datapipe.RelationalOps.revalidationPolicy(revalidationInput(s, dir))),
    // composed REFETCH pipeline: e39's policy -> due-now filter (fixed
    // NOW so the plan is deterministic) -> per-host budget cap, most
    // overdue first, via the salted two-phase top-k (no hot-host task):
    // the local row_number per (host, doc-salt) prefilters to <= budget
    // rows per salt bucket — a superset of the true top-k — then the
    // tiny survivor set takes the exact global rank. Today's fetch list
    // with politeness, end to end.
    "p9_refetch_schedule" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val budget = 4
      val now = 1700100000L
      val due = graft.datapipe.RelationalOps
        .revalidationPolicy(revalidationInput(s, dir))
        .filter(col("next_fetch_ts") <= now)
        .withColumn("host", concat(lit("h"), col("doc_id") % 23))
      val order = Seq(col("next_fetch_ts").asc, col("doc_id").asc)
      val slt = pmod(col("doc_id"), lit(8L))
      val local = Window.partitionBy(col("host"), slt).orderBy(order: _*)
      val global = Window.partitionBy(col("host")).orderBy(order: _*)
      due.withColumn("lrk", row_number().over(local))
        .filter(col("lrk") <= budget).drop("lrk")
        .withColumn("rk", row_number().over(global))
        .filter(col("rk") <= budget)
        .select(col("doc_id"), col("host"), col("mode"),
          col("next_fetch_ts"), (col("rk") - 1).cast("int").as("slot"))
    }),
    // dataset-mixture planning table: per-source token supply -> target
    // weights -> epoch factor capped at 2.0 -> planned tokens + visible
    // deficit; the source-LEVEL budgeting step before t9's per-doc epoch
    // expansion, all long-div ppm arithmetic
    // rendezvous sharding at the 8 -> 9 capacity bump: HRW argmax
    // assignment before/after next to the mod-hash baseline — the
    // moved-fraction gap (≈1/9 vs ≈8/9) is the whole point and falls
    // out of a one-line aggregate over this table
    "p12_rendezvous_shards" -> ((s, dir) =>
      TrainingOps.rendezvousShards(docs(s, dir).select("doc_id"))),
    "p10_mixture_plan" -> ((s, dir) =>
      TrainingOps.mixturePlan(docs(s, dir))),
    // shard-compaction plan over a synthesized file manifest (16 shards
    // per source, bytes = sum of text lengths): streaming-coalesce bins
    // at a 4 KiB target — contiguous merges, skip-labeled overshoots
    // backfill layering over a synthesized 40-table lineage DAG
    // (heap-numbered tree i div 2 -> i) plus a 2-cycle and its
    // downstream blast radius
    "p18_backfill_layers" -> ((s, dir) => {
      import s.implicits._
      val t = docs(s, dir)
        .select(pmod(col("doc_id"), lit(40L)).cast("int").as("i")).distinct()
      val nodes = t.select(concat(lit("t"), col("i")).as("tbl"))
      val tree = t.filter(col("i") >= 1)
        .select(concat(lit("t"), expr("i div 2")).as("src"),
          concat(lit("t"), col("i")).as("dst"))
      val extra = Seq(("t38", "t37"), ("t37", "t38"), ("t38", "t39"))
        .toDF("src", "dst")
      TrainingOps.backfillLayers(nodes, tree.unionByName(extra))
    }),
    // manifest diff between two synthesized snapshots: %7 removes, %11
    // adds, %5 rewrites (byte change) — added/removed/rewritten/
    // unchanged as data over one metadata-plane full-outer join
    "p19_manifest_diff" -> ((s, dir) => {
      val ids = docs(s, dir)
        .select(pmod(col("doc_id"), lit(60L)).as("id")).distinct()
      val prev = ids.filter(col("id") % 7 =!= 3)
        .select(concat(lit("f"), col("id")).as("path"),
          (lit(1000L) + col("id") * 7).as("bytes"))
      val cur = ids.filter(col("id") % 11 =!= 4)
        .select(concat(lit("f"), col("id")).as("path"),
          (lit(1000L) + col("id") * 7 +
            when(col("id") % 5 === 0, 64L).otherwise(0L)).as("bytes"))
      TrainingOps.manifestDiff(prev, cur)
    }),
    // partition-evolution rewrite plan over a synthesized manifest:
    // per-file (min_ts, max_ts) spans against a daily grain — move vs
    // rewrite workload per target day, invalid/overspan as data
    "p17_partition_evolution" -> ((s, dir) => {
      // %31 branch: NEGATIVE epoch seconds (pre-1970 archival scans) —
      // pins the floor-division binning (trunc-toward-zero would merge
      // partitions -1 and 0 and flip move/rewrite families)
      val mn = when(col("doc_id") % 31 === 5,
        lit(-100L) - (col("doc_id") % 40) * 30000)
        .otherwise(lit(1700000000L) + (col("doc_id") % 40) * 30000)
      val f = docs(s, dir).select(col("doc_id").as("shard_id"),
        (lit(500L) + col("doc_id") % 2000).as("bytes"),
        mn.as("min_ts"),
        (mn + when(col("doc_id") % 23 === 3, lit(-999999L))
          .when(col("doc_id") % 29 === 6, lit(86400L * 10000))
          .otherwise((col("doc_id") % 4) * 50000)).as("max_ts"))
      TrainingOps.partitionEvolutionPlan(f)
    }),
    "p13_compaction_plan" -> ((s, dir) => {
      val manifest = docs(s, dir)
        .groupBy(col("source"),
          pmod(col("doc_id"), lit(16L)).cast("int").as("shard_id"))
        .agg(sum(length(col("text"))).as("bytes"))
      TrainingOps.compactionPlan(manifest, targetBytes = 4096L)
    }),
    // snapshot expiry plan over a synthesized 24-snapshot hourly ledger
    // (e17's epoch base) + per-doc file live ranges [doc_id%24, +%gap]:
    // older_than cuts at base+21h, retain_last=4 rescues snapshot 20
    "p14_retention_plan" -> ((s, dir) => {
      val snaps = s.range(24).select(col("id").as("snap_id"),
        (lit(1767225600L) + col("id") * 3600L).as("committed_ts"))
      val files = docs(s, dir)
        .withColumn("fs", pmod(col("doc_id"), lit(24L)))
        .select((col("fs") + pmod(col("doc_id"), lit(24L) - col("fs")))
          .as("last_snap"),
          length(col("text")).cast("long").as("bytes"))
      TrainingOps.retentionPlan(snaps, files,
        olderThanTs = 1767225600L + 21L * 3600L, retainLast = 4)
    }),
    // overlapping sliding-window chunks (W=8, S=4): closed-form window
    // count (no contained-tail spam), exact word offsets, consecutive
    // chunks share W-S words
    "t48_overlap_chunks" -> ((s, dir) =>
      TrainingOps.overlapChunks(docs(s, dir))),
    // byte/char/word accounting over multibyte-decorated text (latin-1
    // supplement, CJK, astral emoji): the three sizes that diverge off
    // ASCII, bytes-per-100-words in long division
    "t50_byte_stats" -> ((s, dir) => {
      val id = col("doc_id")
      val tail = when(id % 4 === 1, lit(" \u00e9"))          // 2 bytes, 1 char
        .when(id % 4 === 2, lit(" \u4e16\u754c"))            // 3+3 bytes, 2 chars
        .when(id % 4 === 3, lit(" \ud83c\udf89"))            // 4 bytes, 1 codepoint
        .otherwise(lit(""))
      TrainingOps.byteStats(
        docs(s, dir).select(id, concat(col("text"), tail).as("text")))
    }),
    // NFC normalization audit over unicode-decorated text: combining
    // composition, the Angstrom singleton, Hangul jamo arithmetic,
    // already-NFC passthrough, and partial composition; JVM Normalizer
    // vs DuckDB utf8proc is a cross-library UAX #15 conformance check
    "t47_nfc_audit" -> ((s, dir) => {
      val id = col("doc_id")
      val tail = when(id % 5 === 0, lit(" e\u0301"))     // e + combining acute
        .when(id % 5 === 1, lit(" \u212B"))             // Angstrom singleton
        .when(id % 5 === 2, lit(" \u1100\u1161"))       // Hangul jamo pair
        .when(id % 5 === 3, lit(""))                     // already NFC
        .otherwise(lit(" A\u0308\u0301"))               // partial composition
      TrainingOps.nfcAudit(s,
        docs(s, dir).select(id, concat(col("text"), tail).as("text")))
    }),
    // per-epoch shard-order plan over a 32-shard ledger (doc_id % 32),
    // 4 epochs: md5-keyed permutation per epoch, zero coordination
    "p16_epoch_order" -> ((s, dir) => {
      val shards = docs(s, dir)
        .select(pmod(col("doc_id"), lit(32L)).as("shard_id")).distinct()
      TrainingOps.epochShardOrder(shards, epochs = 4)
    }),
    // orphan-file audit: storage listing (one file per doc, mtime from
    // doc_id) FULL-OUTER metadata references (docs with id%4 != 1, plus
    // ghost refs g<id> for id%10 == 0 that storage never saw); grace at
    // base+80 splits unreferenced files into orphan vs in_flight
    "p15_orphan_plan" -> ((s, dir) => {
      val base = 1767225600L
      val observed = docs(s, dir).select(
        concat(lit("f"), col("doc_id")).as("path"),
        (lit(base) + pmod(col("doc_id"), lit(100L))).as("modified_ts"))
      val referenced = docs(s, dir)
        .where(pmod(col("doc_id"), lit(4L)) =!= 1L)
        .select(concat(lit("f"), col("doc_id")).as("path"))
        .union(docs(s, dir).where(pmod(col("doc_id"), lit(10L)) === 0L)
          .select(concat(lit("g"), col("doc_id")).as("path")))
      TrainingOps.orphanPlan(observed, referenced, graceTs = base + 80L)
    }),
    // curriculum training order: short-to-long length bands (edges 32,
    // 64), deterministic hash shuffle within each band, step = global
    // band-major position via the t11 shard-offset trick (no global
    // window)
    "p11_curriculum" -> ((s, dir) =>
      TrainingOps.curriculumSchedule(docs(s, dir))),
    // composed WEB pipeline (the e-family analog of p1): ONE parse pass
    // computes metadata + outlinks per page (kernel runs once in the
    // scan stage), the link graph and 3-iteration host rank derive from
    // the persisted parse, and ranks join back host-keyed — per page:
    // title, external-link count, host authority. This is the page-level
    // quality table a curation pass filters on.
    "p2_web_pipeline" -> ((s, dir) => {
      import s.implicits._
      val parsed = pagesOf(s, onlyKind(docs(s, dir), "html"))
        .map { p =>
          val page = graft.core.Html.decode(p.html)
          val m = graft.core.Meta.scan(page)
          val hrefs = graft.core.Links.outlinksOf(page).map(_.href)
            .filter(_.startsWith("https://"))
          (p.url, m.title, hrefs)
        }
        .toDF("url", "title", "hrefs").dropDuplicates("url")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK).registered
      val host = regexp_extract(col("url"), "https://([^/]+)/", 1)
      val edges = parsed.select(host.as("src"), explode(col("hrefs")).as("href"))
        .select(col("src"), regexp_extract(col("href"), "https://([^/]+)/", 1).as("dst"))
      val ranks = graft.datapipe.GraphOps.hostRank(edges)
        .withColumnRenamed("host", "rhost")
      parsed
        .select(col("url"), col("title"), size(col("hrefs")).as("n_ext_links"), host.as("h"))
        .join(ranks, col("h") === col("rhost"), "left")
        .select(col("url"), col("title"), col("n_ext_links"),
          coalesce(col("rank"), lit(0L)).as("host_rank"))
    }),
    "m1_binary_features" -> ((s, dir) => TrainingOps.binaryFeatures(s, docs(s, dir))),
    "m2_frame_sample" -> ((s, dir) => TrainingOps.frameSample(s, docs(s, dir))),
    // WARC record splitting over synthesized segment blobs: 16 segments,
    // records concatenated in doc_id order, parsed back imperatively by
    // Content-Length — the oracle derives offsets ARITHMETICALLY (header
    // bytes + payload bytes + terminator, cumulative per segment), so
    // the byte-walking parser is checked against independent arithmetic
    "m3_warc_records" -> ((s, dir) => {
      val d = docs(s, dir)
      val url = concat(lit("https://"),
        when(col("doc_id") % 10 < 3, lit("big.example.com"))
          .otherwise(concat(lit("h"), col("doc_id") % 97, lit(".example.com"))),
        lit("/doc/"), col("doc_id"))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Target-URI: "), url,
        lit("\r\nContent-Length: "), octet_length(col("text")),
        lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
      val segs = d
        .select((col("doc_id") % 16).as("segment_id"),
          struct(col("doc_id"), rec.as("rec")).as("sr"))
        .groupBy("segment_id")
        .agg(encode(array_join(transform(sort_array(collect_list(col("sr"))),
          x => x.getField("rec")), ""), "UTF-8").as("warc"))
      TrainingOps.warcRecords(s, segs)
    }),
    // image-header dimension sniffing over synthesized REAL container
    // bytes (PNG/GIF/JPEG + truncated/malformed/non-image kinds): the
    // oracle derives format/dims/status ARITHMETICALLY from doc_id, so
    // a MATCH means the byte builder and the byte parser agree through
    // the BE/LE encodings and the JPEG marker walk
    "m4_image_dims" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticImagePayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.imageDims(s, payloads)
    }),
    // the fused Common-Crawl reader: WARC record walk + in-place HTTP
    // parse per record, one pass — segments synthesized with the m6
    // payload kinds wrapped in m3's record format
    "m7_warc_http" -> ((s, dir) => {
      val d = docs(s, dir)
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(id % 10 < 3, lit("big.example.com"))
          .otherwise(concat(lit("h"), id % 97, lit(".example.com"))),
        lit("/doc/"), id)
      val payload = when(id % 6 === 0, concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\nServer: srv"),
          id % 9, lit("\r\n\r\n<html>doc "), id, lit("</html>")))
        .when(id % 6 === 1, concat(
          lit("HTTP/1.1 301 Moved Permanently\r\nLocation: https://h"),
          id % 97, lit(".example.com/doc/"), id, lit("\r\n\r\n")))
        .when(id % 6 === 2, concat(
          lit("HTTP/1.0 404 Not Found\nContent-Type: text/plain\n\nmissing "), id))
        .when(id % 6 === 3, concat(
          lit("HTTP/1.1 200 OK\r\nCONTENT-TYPE: application/json\r\nContent-Type: text/xml\r\n\r\n{\"doc\": "),
          id, lit("}")))
        .when(id % 6 === 4, concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-Doc: "), id))
        .otherwise(concat(lit("not-http doc "), id, lit("\r\n\r\nbody")))
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Target-URI: "), url,
        lit("\r\nContent-Length: "), octet_length(payload),
        lit("\r\n\r\n"), payload, lit("\r\n\r\n"))
      val segs = d
        .select((id % 16).as("segment_id"),
          struct(col("doc_id"), rec.as("rec")).as("sr"))
        .groupBy("segment_id")
        .agg(encode(array_join(transform(sort_array(collect_list(col("sr"))),
          x => x.getField("rec")), ""), "UTF-8").as("warc"))
      TrainingOps.warcHttpRecords(s, segs)
    }),
    // HTTP response parsing over synthesized record payloads: status
    // line, routed headers (Content-Type media type, Location), body
    // addressed without copying; oracle fully arithmetic from doc_id
    "m6_http_responses" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticHttpPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.httpResponses(s, payloads)
    }),
    // THE complete Common-Crawl reader: gzip member -> inflate -> WARC
    // header -> HTTP parse, one typed pass. Non-WARC member content
    // does NOT halt the segment (members delimit records); only gzip
    // faults halt. Payloads are the m7 HTTP kinds.
    "m10_cc_reader" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(id % 10 < 3, lit("big.example.com"))
          .otherwise(concat(lit("h"), id % 97, lit(".example.com"))),
        lit("/doc/"), id)
      val payload = when(id % 6 === 0, concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\nServer: srv"),
          id % 9, lit("\r\n\r\n<html>doc "), id, lit("</html>")))
        .when(id % 6 === 1, concat(
          lit("HTTP/1.1 301 Moved Permanently\r\nLocation: https://h"),
          id % 97, lit(".example.com/doc/"), id, lit("\r\n\r\n")))
        .when(id % 6 === 2, concat(
          lit("HTTP/1.0 404 Not Found\nContent-Type: text/plain\n\nmissing "), id))
        .when(id % 6 === 3, concat(
          lit("HTTP/1.1 200 OK\r\nCONTENT-TYPE: application/json\r\nContent-Type: text/xml\r\n\r\n{\"doc\": "),
          id, lit("}")))
        .when(id % 6 === 4, concat(
          lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\nX-Doc: "), id))
        .otherwise(concat(lit("not-http doc "), id, lit("\r\n\r\nbody")))
      val rec = when(id % 13 === 6, lit("this member is not a warc record"))
        .otherwise(concat(lit("WARC/1.0\r\nWARC-Target-URI: "), url,
          lit("\r\nContent-Length: "), octet_length(payload),
          lit("\r\n\r\n"), payload, lit("\r\n\r\n")))
      val segs = docs(s, dir)
        .select((id % 16).as("sid"), id.as("doc_id"), rec.as("rec"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (sid, it) =>
          val members = it.toSeq.sortBy(_._2).map { case (_, d, r) =>
            TrainingOps.gzipMember(r.getBytes("UTF-8"),
              if (d % 11 == 3) s"d$d" else null)
          }
          val all = members.flatten.toArray
          (sid, if (sid % 4 == 1) all.dropRight(5) else all)
        }
        .toDF("segment_id", "gz")
      TrainingOps.ccReader(s, segs)
    }),
    // NumPy .npy header walk over synthesized tensor-shard payloads —
    // the third tensor format beside TFRecord/Avro: v1 uint16 vs v2
    // uint32 header-length branches, 0/1/2-dim shapes (incl. the ()
    // scalar and (n,) forms), short-data and truncated-header families;
    // oracle fully arithmetic from doc_id (header lengths re-derived
    // from the same dict-literal text + 64-byte alignment rule)
    "m30_npy_headers" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticNpyPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.npyHeaders(s, payloads)
    }),
    // safetensors header walk over synthesized tensor-shard payloads —
    // the fourth tensor format beside TFRecord/Avro/npy: u64-LE header
    // length, from-scratch JSON-subset scan (tensor name -> dtype /
    // shape / data_offsets, optional __metadata__), per-tensor rows in
    // buffer order, contiguous-cover validation; oracle fully
    // arithmetic from doc_id (header lengths re-derived from the SAME
    // JSON text + the 8-byte alignment rule)
    "m31_safetensors_headers" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticSafetensorsPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.safetensorsHeaders(s, payloads)
    }),
    // gzip member splitting over synthesized .warc.gz-style segments:
    // one member per record (an FNAME header on doc_id%11==3 members),
    // segments with segment_id%4==1 cut 5 bytes short; the oracle checks
    // DECOMPRESSED md5s — it never needs to gunzip
    "m9_gzip_members" -> ((s, dir) => {
      import s.implicits._
      val id = col("doc_id")
      val url = concat(lit("https://"),
        when(id % 10 < 3, lit("big.example.com"))
          .otherwise(concat(lit("h"), id % 97, lit(".example.com"))),
        lit("/doc/"), id)
      val rec = concat(
        lit("WARC/1.0\r\nWARC-Target-URI: "), url,
        lit("\r\nContent-Length: "), octet_length(col("text")),
        lit("\r\n\r\n"), col("text"), lit("\r\n\r\n"))
      val segs = docs(s, dir)
        .select((id % 16).as("sid"), id.as("doc_id"), rec.as("rec"))
        .as[(Long, Long, String)]
        .groupByKey(_._1)
        .mapGroups { (sid, it) =>
          val members = it.toSeq.sortBy(_._2).map { case (_, d, r) =>
            TrainingOps.gzipMember(r.getBytes("UTF-8"),
              if (d % 11 == 3) s"d$d" else null)
          }
          val all = members.flatten.toArray
          (sid, if (sid % 4 == 1) all.dropRight(5) else all)
        }
        .toDF("segment_id", "gz")
      TrainingOps.gzipMembers(s, segs)
    }),
    // RIFF/WAV header parsing: chunk walk honoring declared sizes + the
    // odd-chunk pad byte, order-independent fmt/data; arithmetic oracle
    "m8_wav_headers" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticWavPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.wavHeaders(s, payloads)
    }),
    // HTTP/1.1 chunked transfer decoding: hex size lines + extensions,
    // trailers, post-data CRLF invariant; decoded body md5 checked by
    // an oracle that rebuilds the body string in SQL
    "m12_chunked_decode" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticChunkedPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.chunkedDecode(s, payloads)
    }),
    // ISO-BMFF (MP4) box walk: largesize + size==0 + mvhd v0/v1 field
    // widths, moov-at-end order; arithmetic oracle (the m8 pattern)
    "m11_mp4_headers" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticMp4Payload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.mp4Headers(s, payloads)
    }),
    // ZIP central-directory walk over synthesized archives: backward
    // EOCD scan with a decoy signature in the trailing comment, ZIP64
    // sentinel indirection (>4GiB entry), data-descriptor locals whose
    // sizes lie (CD is the truth), truncated directory keeps its prefix
    "m13_zip_entries" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticZipPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.zipEntries(s, payloads)
    }),
    // TAR header walk over synthesized archives: octal + GNU base-256
    // sizes, space-padded checksums verified with the field-as-spaces
    // rule, 'L' longname pseudo-entries consumed not emitted, POSIX
    // prefix/name path split (POSIX magic only), terminator-less EOF,
    // bad-checksum / truncated archives keep their parsed prefix
    "m14_tar_entries" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticTarPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.tarEntries(s, payloads)
    }),
    // TIFF/EXIF IFD walk over synthesized images: dual endianness,
    // inline-vs-offset values (count*typeSize <= 4), EXIF sub-IFD
    // pointer consumed not emitted, IFD1 chaining, pointer-cycle
    // detection, truncated IFD keeps its parsed prefix
    "m15_tiff_entries" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticTiffPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.tiffEntries(s, payloads)
    }),
    // PNG chunk walk with CRC32 verification over synthesized images:
    // per-chunk (offset, type, length, crc_ok, critical) + per-file
    // terminal status; CRC mismatch never stops the walk, IEND does
    // (trailing junk unscanned), truncation/malformed keep the prefix
    "m16_png_chunks" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticPngPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.pngChunks(s, payloads)
    }),
    // JPEG marker-segment walk (m16's sibling for the other half of
    // the web's images): per-marker (offset, name, declared length) +
    // entropy-scan rows carrying ecs_len; boundaries by LENGTH never
    // FF-scan (planted FF D8 in a COM body), FF00 stuffing, RSTn
    // in-scan rows, EOI stops the walk, no_eoi distinct from truncated
    "m17_jpeg_segments" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticJpegPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.jpegSegments(s, payloads)
    }),
    // MPEG-1 Layer III frame-chain walk (the audio bitstream walker):
    // frame lengths COMPUTED from the bitrate/samplerate tables
    // (144000*br div sr + pad), ID3v2 skipped by syncsafe size, exact
    // 128-byte ID3v1 tail, free-format as its own verdict, no resync
    "m18_mp3_frames" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticMp3Payload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.mp3Frames(s, payloads)
    }),
    // Zstandard frame/block walk (RFC 8878): every extent DECLARED so
    // the container walks without a decompressor — raw/compressed
    // blocks stepped by Block_Size, RLE consumes ONE byte, skippable
    // frames by u32 size, header length computed from descriptor bits,
    // 2-byte FCS carries the spec's +256 bias
    "m19_zstd_frames" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticZstdPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.zstdFrames(s, payloads)
    }),
    // EBML/Matroska element walk (webm): IDs and sizes are VINTs whose
    // WIDTH lives in the leading-zero marker; unknown-size Segment runs
    // to EOF; descent one level into Segment only; non-minimal size
    // encodings pinned
    "m20_ebml_elements" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticEbmlPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.ebmlElements(s, payloads)
    }),
    // Parquet container sniff: end-anchored (PAR1 head+tail, u32le
    // footer_len from the tail, footer must fit inside n-12)
    // WebP chunk walk: RIFF grammar + three dimension codecs selected
    // by the first chunk's fourcc (u16le / packed 14-bit / u24le-1)
    "m27_webp_chunks" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticWebpPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.webpChunks(s, payloads)
    }),
    // protobuf field walk: MSB-continuation varints, four live wire
    // types, no magic / no framing (m22's TFRecord is the container)
    "m26_proto_fields" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticProtoPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.protoFields(s, payloads)
    }),
    // FLAC metadata-block walk: u24 big-endian lengths, in-header
    // last-flag bit termination, bit-packed STREAMINFO fields
    "m25_flac_blocks" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticFlacPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.flacBlocks(s, payloads)
    }),
    // GIF block walk: sub-block chains (len|data, zero-terminated) +
    // the log-encoded color-table length from the screen descriptor
    "m24_gif_blocks" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticGifPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.gifBlocks(s, payloads)
    }),
    "m23_parquet_footer" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticParquetPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.parquetFooter(s, payloads)
    }),
    // TFRecord walk: u64le length + masked-CRC32C framing; length-crc
    // failure HALTS (boundary untrustworthy), data-crc failure flags
    // and CONTINUES — the two-checksum policy pinned by families
    "m22_tfrecord_records" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticTfrecordPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.tfrecordRecords(s, payloads)
    }),
    // JSONL walk: newline framing independent of per-line validity
    // (strict from-scratch RFC-8259 check), EOF terminates a line,
    // blank lines counted but not records
    "m29_jsonl_records" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticJsonlPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.jsonlRecords(s, payloads)
    }),
    // Avro OCF walk (the OTHER training-shard format next to m22):
    // zigzag-varint framing, BOTH metadata-map count forms, codec
    // harvest; sync-mismatch flags + continues, size-past-EOF halts
    "m28_avro_blocks" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticAvroPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.avroBlocks(s, payloads)
    }),
    // Ogg page walk (RFC 3533): body = sum of lacing values, packet
    // boundaries encoded IN the values (a 255-run continues, first
    // <255 ends), direct-polynomial CRC verified but never driving
    // the walk
    "m21_ogg_pages" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticOggPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.oggPages(s, payloads)
    }),
    // charset sniffing over synthesized page bytes: BOM > 1024-byte meta
    // prescan > UTF-8 structural validation > windows-1252 fallback; the
    // oracle derives every verdict arithmetically from doc_id
    "m5_charset" -> ((s, dir) => {
      import s.implicits._
      val payloads = docs(s, dir).select(col("doc_id")).as[Long]
        .map(id => (id, TrainingOps.syntheticCharsetPayload(id)))
        .toDF("doc_id", "payload")
      TrainingOps.charsetDetect(s, payloads)
    }),
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] = {
    val urlExpr =
      "'https://' || CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
        "ELSE 'h' || (doc_id % 97) || '.example.com' END || '/doc/' || doc_id"
    val htmlKinds = "doc_id % 37 <> 0 AND doc_id % 41 <> 0 AND doc_id % 10 <> 7"
    // template families within html kind (HtmlGen.familyOf)
    val htmlKindsA = htmlKinds + " AND doc_id % 23 <> 5 AND doc_id % 23 <> 11"
    val famB = htmlKinds + " AND doc_id % 23 = 5"
    val famC = htmlKinds + " AND doc_id % 23 = 11"
    val pdfKinds = "doc_id % 37 <> 0 AND doc_id % 41 <> 0 AND doc_id % 10 = 7"
    val words = "regexp_split_to_array(trim(text), '\\s+')"
    def chunked(sz: Int) =
      s"array_to_string(list_transform(range(CAST(ceil(len(w)/$sz.0) AS BIGINT)), " +
        s"i -> array_to_string(w[(i*$sz+1):least((i+1)*$sz, len(w))], ' ')), chr(10))"
    val kindCase =
      "CASE WHEN doc_id % 37 = 0 THEN 'junk' WHEN doc_id % 41 = 0 THEN 'oversize' " +
        "WHEN doc_id % 10 = 7 THEN 'pdf' ELSE 'html' END"
    // shared front of the p7/p8 oracles — mirrors handoffSurvivors:
    // extraction reconstructions, url-derived identity, the full t14
    // oracle as a quality subquery, exact dedup among keeps
    val wsRe = "'[ \\t\\n\\r\\f\\x0B]+'"
    val survChain = {
      val q14 = t14Oracle(s"regexp_split_to_array(trim(text), $wsRe)")
        .replace("FROM documents", "FROM ex")
      s"exa AS (SELECT doc_id, $words AS w FROM documents WHERE $htmlKindsA), " +
        s"exp AS (SELECT doc_id, $words AS w FROM documents WHERE $pdfKinds), " +
        s"ex0 AS (SELECT doc_id, $urlExpr AS url, ${chunked(40)} AS text FROM exa " +
        s"UNION ALL SELECT doc_id, $urlExpr AS url, ${chunked(60)} AS text FROM exp), " +
        "ex AS (SELECT doc_id, url, regexp_extract(url, 'https?://([^/]+)', 1) AS host, text FROM ex0), " +
        s"q AS (SELECT doc_id FROM ($q14) t WHERE keep), " +
        "kept AS (SELECT e.* FROM ex e JOIN q USING (doc_id)), " +
        "kp AS (SELECT min(doc_id) AS doc_id FROM kept GROUP BY md5(text)), " +
        "surv AS (SELECT k.* FROM kept k JOIN kp USING (doc_id))"
    }
    // e39's policy table as a shared CTE (ttl ladder + clamps + mode),
    // feeding both the e39 oracle and p9's due/politeness composition
    val e39PolCte =
      "t AS (SELECT doc_id, CAST(CASE doc_id % 6 " +
        "WHEN 0 THEN 300 + doc_id % 1000 " +
        "WHEN 1 THEN 60 WHEN 2 THEN 60 " +
        "WHEN 3 THEN CASE WHEN (doc_id // 6) % 2 = 0 THEN 7200 + doc_id % 100 ELSE 60 END " +
        "WHEN 4 THEN 2592000 ELSE 86400 END AS BIGINT) AS ttl_s FROM documents), " +
        "pol AS (SELECT doc_id, ttl_s, " +
        "CAST(1700000000 + doc_id * 7 + ttl_s AS BIGINT) AS next_fetch_ts, " +
        "CASE WHEN doc_id % 6 = 1 THEN 'unconditional' " +
        "WHEN doc_id % 3 = 0 THEN 'conditional_etag' " +
        "WHEN doc_id % 3 = 1 THEN 'conditional_modified' " +
        "ELSE 'unconditional' END AS mode FROM t)"
    // e41 section rows, arithmetic per kind; t33 chunks the same rows
    val e41Sql =
      "SELECT doc_id, 0 AS section_idx, 1 AS level, 'T'||doc_id AS title, " +
        "'T'||doc_id AS path, 'intro '||doc_id AS sec_text FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id, 1, 2, 'A'||doc_id, 'T'||doc_id||' > A'||doc_id, 'alpha '||doc_id FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id, 2, 2, 'B'||doc_id, 'T'||doc_id||' > B'||doc_id, 'beta '||doc_id FROM documents WHERE doc_id % 5 = 0 " +
        "UNION ALL SELECT doc_id, 0, 0, '', '', 'pre '||doc_id FROM documents WHERE doc_id % 5 = 1 " +
        "UNION ALL SELECT doc_id, 1, 1, 'T'||doc_id, 'T'||doc_id, 'body '||doc_id FROM documents WHERE doc_id % 5 = 1 " +
        "UNION ALL SELECT doc_id, 0, 1, 'T'||doc_id, 'T'||doc_id, 'top '||doc_id FROM documents WHERE doc_id % 5 = 2 " +
        "UNION ALL SELECT doc_id, 1, 3, 'D'||doc_id, 'T'||doc_id||' > D'||doc_id, 'deep '||doc_id FROM documents WHERE doc_id % 5 = 2 " +
        "UNION ALL SELECT doc_id, 2, 2, 'M'||doc_id, 'T'||doc_id||' > M'||doc_id, 'mid '||doc_id FROM documents WHERE doc_id % 5 = 2 " +
        "UNION ALL SELECT doc_id, 0, 0, '', '', 'lead '||doc_id FROM documents WHERE doc_id % 5 = 3 " +
        "UNION ALL SELECT doc_id, 1, 2, 'U'||doc_id, 'U'||doc_id, '' FROM documents WHERE doc_id % 5 = 3 " +
        "UNION ALL SELECT doc_id, 0, 0, '', '', 'only text '||doc_id||' more '||doc_id FROM documents WHERE doc_id % 5 = 4"
    Map(
      "e1_extract_html" ->
        (s"WITH d AS (SELECT doc_id, $words AS w FROM documents WHERE $htmlKindsA) " +
          s"SELECT $urlExpr AS url, ${chunked(40)} AS text FROM d"),
      // e61 oracle: payload bytes from the shared byte-for-byte
      // HtmlGen reconstruction (e8's expression), text bytes from the
      // e1 expected-extraction string, floor-div ppm + the verdict
      // ladder — a MATCH pins kernel yield against generator arithmetic
      "e61_extract_yield" ->
        (s"WITH d AS (SELECT doc_id, lang, text, $words AS w FROM documents WHERE $htmlKindsA), " +
          s"h AS (SELECT doc_id, octet_length(encode($htmlAPayloadExpr)) AS pb, " +
          s"octet_length(encode(${chunked(40)})) AS tb FROM d), " +
          "g AS (SELECT doc_id, tb, pb, (1000000 * tb) // pb AS yp FROM h) " +
          s"SELECT $urlExpr AS url, CAST(tb AS BIGINT) AS text_bytes, " +
          "CAST(pb AS BIGINT) AS payload_bytes, CAST(yp AS BIGINT) AS yield_ppm, " +
          "CASE WHEN yp < 100000 THEN 'template_heavy' " +
          "WHEN yp >= 500000 THEN 'content_dense' ELSE 'normal' END AS verdict FROM g"),
      "e2_extract_pdf" ->
        (s"WITH d AS (SELECT doc_id, $words AS w FROM documents WHERE $pdfKinds) " +
          s"SELECT $urlExpr AS url, ${chunked(60)} AS text, " +
          "GREATEST(1, CAST(ceil(len(w)/120.0) AS INT)) AS pages FROM d"),
      // e69 oracle: e2's reconstructed text/pages fed through the same
      // integer density ladder — a MATCH pins kernel char yield AND the
      // routing boundary against generator arithmetic
      "e69_ocr_routing" ->
        (s"WITH d AS (SELECT doc_id, $words AS w FROM documents WHERE $pdfKinds), " +
          s"t AS (SELECT $urlExpr AS url, length(${chunked(60)}) AS chars, " +
          "GREATEST(1, CAST(ceil(len(w)/120.0) AS INT)) AS pages FROM d) " +
          "SELECT url, pages, CAST(chars AS BIGINT) AS chars, " +
          "CASE WHEN pages IS NULL OR pages <= 0 THEN NULL ELSE CAST(chars // pages AS BIGINT) END AS chars_per_page, " +
          "CASE WHEN pages IS NULL OR pages <= 0 THEN 'invalid' " +
          "WHEN chars = 0 THEN 'empty' WHEN chars // pages < 120 THEN 'needs_ocr' " +
          "ELSE 'text_layer' END AS verdict FROM t"),
      "e3_status_taxonomy" ->
        (s"WITH d AS (SELECT doc_id, $kindCase AS kind FROM documents) " +
          s"SELECT $urlExpr AS url, " +
          "CASE kind WHEN 'pdf' THEN 'pdf' WHEN 'html' THEN 'html' ELSE 'none' END AS engine, " +
          "CASE kind WHEN 'junk' THEN 'rejected_format' WHEN 'oversize' THEN 'rejected_size' ELSE 'ok' END AS status, " +
          "CASE kind WHEN 'junk' THEN 'unsupported_format' WHEN 'oversize' THEN 'file_too_large' ELSE NULL END AS error_code " +
          "FROM d"),
      "e4_metrics_status" ->
        (s"WITH d AS (SELECT doc_id, $kindCase AS kind FROM documents) " +
          "SELECT CASE kind WHEN 'pdf' THEN 'pdf' WHEN 'html' THEN 'html' ELSE 'none' END AS engine, " +
          "CASE kind WHEN 'junk' THEN 'rejected_format' WHEN 'oversize' THEN 'rejected_size' ELSE 'ok' END AS status, " +
          "count(*) AS n FROM d GROUP BY 1, 2"),
      "e5_span_counts" ->
        (s"WITH d AS (SELECT doc_id, $words AS w FROM documents WHERE $htmlKindsA) " +
          s"SELECT $urlExpr AS url, CAST(ceil(len(w)/40.0) AS INT) AS n_blocks, " +
          "CAST(len(w) AS INT) AS n_words, 1 AS pages FROM d"),
      "e6_dedup_count" ->
        "SELECT count(*) AS n_rows FROM documents",
      "e7_engines" ->
        ("SELECT 'html' AS name, '1.0.0' AS version, 'text/html' AS supported_formats, " +
          "'maxLinkDensity:double=0.33,minWordsDense:int=10' AS params " +
          "UNION ALL SELECT 'pdf', '1.0.0', 'application/pdf', 'xGap:double=60.0,yGap:double=25.0'"),
      "e11_timeout_metrics" ->
        (s"WITH d AS (SELECT doc_id, $words AS w FROM documents WHERE $htmlKindsA) " +
          "SELECT 'html' AS engine, CASE WHEN CAST(ceil(len(w)/40.0) AS BIGINT) >= " +
          "(CASE WHEN doc_id % 4 = 1 THEN 4 ELSE 3 END) THEN 'timeout' ELSE 'ok' END AS status, " +
          "count(*) AS n FROM d GROUP BY 1, 2"),
      "e17_windowed_counts" ->
        (s"WITH d AS (SELECT doc_id, $kindCase AS kind FROM documents) " +
          "SELECT CAST(floor((1767225600 + doc_id) / 600) * 600 AS BIGINT) AS win_start, " +
          "CASE kind WHEN 'pdf' THEN 'pdf' WHEN 'html' THEN 'html' ELSE 'none' END AS engine, " +
          "CASE kind WHEN 'junk' THEN 'rejected_format' WHEN 'oversize' THEN 'rejected_size' ELSE 'ok' END AS status, " +
          "count(*) AS n FROM d GROUP BY 1, 2, 3"),
      // as-of join: DuckDB's NATIVE ASOF JOIN — an algorithm-independent
      // oracle (range-scan argmax) for the union+carry-forward window
      // implementation in RelationalOps.asofJoin
      "e18_asof_join" ->
        ("WITH l AS (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'click'), " +
          "r AS (SELECT event_id AS err_event_id, ts AS err_ts, user_id, value AS err_value " +
          "FROM events WHERE event_type = 'error') " +
          "SELECT l.event_id, l.ts, l.user_id, l.value, r.err_event_id, r.err_ts, r.err_value " +
          "FROM l ASOF LEFT JOIN r ON l.user_id = r.user_id AND r.err_ts <= l.ts"),
      // range join: plain-SQL interval predicate — again an independent
      // formulation (DuckDB plans it as its own IEJoin) checking the
      // bin-bucketized equi-join in RelationalOps.rangeJoin
      "e19_range_join" ->
        ("WITH l AS (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'view'), " +
          "r AS (SELECT event_id AS win_id, ts AS win_start, ts + INTERVAL 15 MINUTE AS win_end " +
          "FROM events WHERE event_type = 'purchase') " +
          "SELECT l.event_id, l.ts, l.user_id, l.value, r.win_id, r.win_start, r.win_end " +
          "FROM l JOIN r ON l.ts >= r.win_start AND l.ts < r.win_end"),
      // TPC-H spine oracles: the same centi-integerization (exact cents
      // from 2-decimal doubles) so every aggregate is an
      // order-independent integer sum on both engines
      "q1_pricing_summary" ->
        ("WITH l AS (SELECT l_returnflag, l_linestatus, " +
          "CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS qty_c, " +
          "CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS price_c, " +
          "CAST(floor(l_discount*100 + 0.5) AS BIGINT) AS disc_c, " +
          "CAST(floor(l_tax*100 + 0.5) AS BIGINT) AS tax_c " +
          "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-01-01 00:00:00') " +
          "SELECT l_returnflag, l_linestatus, " +
          "CAST(sum(qty_c) AS BIGINT) AS sum_qty_c, " +
          "CAST(sum(price_c) AS BIGINT) AS sum_base_price_c, " +
          "CAST(sum(price_c*(100-disc_c)) AS BIGINT) AS sum_disc_price_c4, " +
          "CAST(sum(price_c*(100-disc_c)*(100+tax_c)) AS BIGINT) AS sum_charge_c6, " +
          "CAST(sum(qty_c) // count(*) AS BIGINT) AS avg_qty_c, " +
          "CAST(sum(price_c) // count(*) AS BIGINT) AS avg_price_c, " +
          "count(*) AS count_order FROM l GROUP BY 1, 2"),
      "q3_shipping_priority" ->
        ("WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'), " +
          "o AS (SELECT o_orderkey, o_custkey, o_orderdate, o_orderpriority FROM orders " +
          "WHERE o_orderdate < TIMESTAMP '1998-06-01 00:00:00'), " +
          "l AS (SELECT l_orderkey, CAST(floor(l_extendedprice*100+0.5) AS BIGINT) * " +
          "(100 - CAST(floor(l_discount*100+0.5) AS BIGINT)) AS rev FROM lineitem " +
          "WHERE l_shipdate > TIMESTAMP '1998-06-01 00:00:00') " +
          "SELECT l_orderkey, o_orderdate, o_orderpriority, CAST(sum(rev) AS BIGINT) AS revenue_c4 " +
          "FROM l JOIN o ON l.l_orderkey = o.o_orderkey JOIN c ON o.o_custkey = c.c_custkey " +
          "GROUP BY 1, 2, 3 ORDER BY revenue_c4 DESC, o_orderdate, l_orderkey LIMIT 10"),
      // q5 oracle: same six-table join with the integer-cents revenue
      // convention and the local-nation equality
      "q5_local_supplier_volume" ->
        ("WITH nat AS (SELECT n_nationkey, n_name FROM nation JOIN region ON n_regionkey = r_regionkey WHERE r_name = 'ASIA'), " +
          "c AS (SELECT c_custkey, c_nationkey FROM customer JOIN nat ON c_nationkey = n_nationkey), " +
          "o AS (SELECT o_orderkey, c_nationkey FROM orders JOIN c ON o_custkey = c_custkey " +
          "WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00' AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'), " +
          "s AS (SELECT s_suppkey, s_nationkey, n_name FROM supplier JOIN nat ON s_nationkey = n_nationkey), " +
          "l AS (SELECT l_orderkey, l_suppkey, CAST(floor(l_extendedprice*100+0.5) AS BIGINT) * " +
          "(100 - CAST(floor(l_discount*100+0.5) AS BIGINT)) AS rev FROM lineitem) " +
          "SELECT n_name, CAST(sum(rev) AS BIGINT) AS revenue_c4 " +
          "FROM l JOIN o ON l_orderkey = o_orderkey " +
          "JOIN s ON l_suppkey = s_suppkey AND o.c_nationkey = s.s_nationkey " +
          "GROUP BY 1"),
      "q18_large_orders" ->
        ("WITH h AS (SELECT l_orderkey, CAST(sum(CAST(floor(l_quantity*100+0.5) AS BIGINT)) AS BIGINT) AS total_qty_c " +
          "FROM lineitem GROUP BY 1 HAVING total_qty_c > 15000) " +
          "SELECT c_name, c_custkey, o_orderkey, o_orderdate, " +
          "CAST(floor(o_totalprice*100+0.5) AS BIGINT) AS total_price_c, total_qty_c " +
          "FROM h JOIN orders ON l_orderkey = o_orderkey " +
          "JOIN customer ON o_custkey = c_custkey"),
      // Wilson oracle: identical double-precision operation order —
      // note 1.0/(CAST(n AS DOUBLE)*n), which multiplies DOUBLES like
      // the Spark side (integer n*n then one cast could differ past
      // 2^53)
      "e67_host_wilson" ->
        ("WITH u AS (SELECT CASE WHEN doc_id % 997 = 0 THEN 'tiny' || doc_id " +
          "ELSE 'site' || (doc_id % 17) || '.example.com' END AS host, " +
          "(doc_id % ((doc_id % 17) + 2)) <> 0 AS ok FROM documents), " +
          "g AS (SELECT host, CAST(count(*) AS BIGINT) AS n, " +
          "CAST(sum(CASE WHEN ok THEN 1 ELSE 0 END) AS BIGINT) AS ok FROM u GROUP BY 1), " +
          "w AS (SELECT host, n, ok, " +
          "(CAST(ok AS DOUBLE)/n + 2.0/n - 2.0*sqrt((CAST(ok AS DOUBLE)/n)*(1.0 - CAST(ok AS DOUBLE)/n)/n " +
          "+ 1.0/(CAST(n AS DOUBLE)*n))) / (1.0 + 4.0/n) AS wilson_lower FROM g) " +
          "SELECT host, n, ok, wilson_lower, " +
          "CASE WHEN n < 8 THEN 'low_sample' WHEN wilson_lower >= 0.5 THEN 'trusted' " +
          "ELSE 'suspect' END AS verdict FROM w"),
      // burst oracle: same FLOOR bucketing (es minus positive modulus —
      // convention-independent across engines' // semantics, and the
      // exact twin of the Spark side's floor formula) and the
      // 1e6*ne*nw//total ratio (DuckDB auto-widens to HUGEINT)
      "e68_burst_windows" ->
        ("WITH l AS (SELECT 'host' || (user_id % 7) AS host, " +
          "CAST(floor(epoch(ts)) AS BIGINT) AS es FROM events), " +
          "w AS (SELECT host, es - ((es % 600 + 600) % 600) AS win_start, CAST(count(*) AS BIGINT) AS n_events FROM l GROUP BY 1, 2), " +
          "h AS (SELECT host, CAST(sum(n_events) AS BIGINT) AS total, CAST(count(*) AS BIGINT) AS n_windows FROM w GROUP BY 1) " +
          "SELECT w.host, CAST(win_start AS BIGINT) AS win_start, n_events, " +
          "CAST(1000000 * n_events * n_windows // total AS BIGINT) AS ratio_ppm, " +
          "(1000000 * n_events * n_windows // total) > 3000000 AS burst " +
          "FROM w JOIN h USING (host)"),
      // e70 oracle: the same Hamilton apportionment as a window rank —
      // base floor shares, leftover units to the largest remainders
      // (ties by host asc), cap truncation last
      "e70_crawl_budget" ->
        ("WITH p AS (SELECT CASE WHEN doc_id % 3 = 0 THEN 'hot' || (doc_id % 7) " +
          "ELSE 'cold' || (doc_id % 29) END AS host FROM documents), " +
          "w AS (SELECT host, count(*) AS n_pages FROM p GROUP BY 1), " +
          "t AS (SELECT sum(n_pages) AS total FROM w), " +
          "b AS (SELECT host, n_pages, (997 * n_pages) // total AS base, " +
          "(997 * n_pages) % total AS rem FROM w, t), " +
          "d AS (SELECT 997 - sum(base) AS deficit FROM b), " +
          "r AS (SELECT host, row_number() OVER (ORDER BY rem DESC, host) AS rk FROM b) " +
          "SELECT b.host, CAST(n_pages AS BIGINT) AS n_pages, " +
          "CAST(least(40, base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END) AS BIGINT) AS quota, " +
          "CAST(CASE WHEN rk <= deficit THEN 1 ELSE 0 END AS INT) AS got_extra, " +
          "base + CASE WHEN rk <= deficit THEN 1 ELSE 0 END > 40 AS capped " +
          "FROM b JOIN r USING (host) CROSS JOIN d"),
      // stream interval join oracle: plain interval predicate, inclusive
      // both ends ([ts, ts+within] — Spark's >= / <= condition verbatim)
      "e66_stream_interval_join" ->
        ("WITH l AS (SELECT event_id, ts, user_id, value FROM events WHERE event_type = 'click'), " +
          "r AS (SELECT event_id AS err_event_id, ts AS err_ts, user_id AS err_user_id, value AS err_value " +
          "FROM events WHERE event_type = 'error') " +
          "SELECT l.event_id, l.ts, l.user_id, l.value, r.err_event_id, r.err_ts, r.err_user_id, r.err_value " +
          "FROM l JOIN r ON l.user_id = r.err_user_id AND r.err_ts >= l.ts AND r.err_ts <= l.ts + INTERVAL 30 MINUTE"),
      // sessionization oracle: gaps-and-islands (lag + running break sum)
      // — an algorithm-independent formulation of the session_window
      // merging exec. Boundary pinned at > gap -> new session (Spark
      // merges TOUCHING windows: an event exactly gap after its
      // predecessor still extends the session).
      "e20_sessionize" ->
        ("WITH o AS (SELECT user_id, ts, CAST(floor(value * 1000 + 0.5) AS BIGINT) AS vm, " +
          "CASE WHEN ts - lag(ts) OVER w > INTERVAL 4 HOUR OR lag(ts) OVER w IS NULL " +
          "THEN 1 ELSE 0 END AS brk FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)), " +
          "s AS (SELECT user_id, ts, vm, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sid FROM o) " +
          "SELECT user_id, min(ts) AS session_start, max(ts) AS session_end, " +
          "count(*) AS n_events, CAST(SUM(vm) AS BIGINT) AS sum_value_milli FROM s GROUP BY user_id, sid"),
      // rollup oracle: DuckDB's native ROLLUP + GROUPING bitmask
      "e21_status_rollup" ->
        (s"WITH d AS (SELECT doc_id, $kindCase AS kind FROM documents), " +
          "e AS (SELECT CASE kind WHEN 'pdf' THEN 'pdf' WHEN 'html' THEN 'html' ELSE 'none' END AS engine, " +
          "CASE kind WHEN 'junk' THEN 'rejected_format' WHEN 'oversize' THEN 'rejected_size' ELSE 'ok' END AS status FROM d) " +
          "SELECT engine, status, count(*) AS n, GROUPING(engine, status) AS lvl " +
          "FROM e GROUP BY ROLLUP(engine, status)"),
      "e12_duration_metrics" ->
        (s"WITH d AS (SELECT $kindCase AS kind FROM documents) " +
          "SELECT CASE kind WHEN 'pdf' THEN 'pdf' WHEN 'html' THEN 'html' ELSE 'none' END AS engine, " +
          "count(*) AS n FROM d GROUP BY 1"),
      "e9_words_by_lang" ->
        (s"WITH d AS (SELECT lang, $words AS w FROM documents WHERE $htmlKindsA) " +
          "SELECT lang, CAST(SUM(len(w)) AS BIGINT) AS n_words, count(*) AS n_docs FROM d GROUP BY lang"),
      // p7 oracle: the e1/e2 extraction reconstructions chained through
      // the t1 stopword-argmax, the FULL t14 oracle as a subquery (the
      // p4 embed pattern, retargeted at the extracted table), exact
      // dedup among keeps, and the t26 host-keyed split
      "p7_training_handoff" -> {
        s"WITH $survChain, " +
          s"lwc AS (SELECT doc_id, regexp_split_to_array(trim(text), $wsRe) AS w FROM ex " +
          s"WHERE len(regexp_split_to_array(trim(text), $wsRe)) >= 1), " +
          "sc AS (SELECT doc_id, " +
          "len(list_filter(w, x -> x IN ('the','a','of','and','to','in','is','it'))) AS s_en, " +
          "len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein','zu','den'))) AS s_de, " +
          "len(list_filter(w, x -> x IN ('el','la','los','las','una','es','y','que'))) AS s_es, " +
          "len(list_filter(w, x -> x IN ('le','les','des','une','est','et','dans','pour'))) AS s_fr, " +
          "len(list_filter(w, x -> x IN ('的','是','了','在','我','有','和','不'))) AS s_zh FROM lwc), " +
          "lng AS (SELECT doc_id, CASE " +
          "WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en' " +
          "WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de' " +
          "WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es' " +
          "WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred FROM sc) " +
          "SELECT s.doc_id, s.url, s.host, lng.lang_pred, " +
          "CASE WHEN ('0x' || substr(md5('sp:' || s.host), 1, 15))::BIGINT % 1000000 < 100000 THEN 'test' " +
          "WHEN ('0x' || substr(md5('sp:' || s.host), 1, 15))::BIGINT % 1000000 < 200000 THEN 'val' " +
          "ELSE 'train' END AS split, md5(s.text) AS text_md5 " +
          "FROM surv s JOIN lng USING (doc_id)"
      },
      // p8 oracle: the shared surv chain, train-split filter (the t26
      // threshold arithmetic), then the t10 packing window per shard
      "p8_corpus_release" -> {
        s"WITH $survChain, " +
          "tr AS (SELECT s.doc_id, s.text FROM surv s WHERE " +
          "('0x' || substr(md5('sp:' || s.host), 1, 15))::BIGINT % 1000000 >= 200000), " +
          s"f2 AS (SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard, " +
          s"CAST(len(regexp_split_to_array(trim(text), $wsRe)) AS INT) AS n_tokens " +
          "FROM tr WHERE length(text) >= 1), " +
          "c2 AS (SELECT doc_id, shard, n_tokens, CAST(sum(n_tokens) OVER " +
          "(PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM f2) " +
          "SELECT doc_id, shard, n_tokens, (cum - n_tokens) // 512 AS seq_id, " +
          "CAST((cum - n_tokens) % 512 AS INT) AS seq_offset, " +
          "CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS INT) AS n_seqs FROM c2"
      },
      "e10_host_counts" ->
        (s"WITH d AS (SELECT doc_id, $kindCase AS kind, " +
          "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END AS host " +
          "FROM documents) " +
          "SELECT host, count(*) AS n_docs, " +
          "CAST(SUM(CASE WHEN kind IN ('html','pdf') THEN 1 ELSE 0 END) AS BIGINT) AS n_ok " +
          "FROM d GROUP BY host"),
      // searchable-PDF round-trip: rt_text equals the expected extraction
      // (family-A 40-word chunks; pdf 60-word chunks) and the rendered
      // page count is GREATEST(1, ceil(blocks/10)) per PdfRender's layout
      "e16_searchable_pdf" ->
        (s"WITH a AS (SELECT doc_id, $words AS w FROM documents WHERE $htmlKindsA), " +
          s"p AS (SELECT doc_id, $words AS w FROM documents WHERE $pdfKinds), " +
          s"u AS (SELECT $urlExpr AS url, ${chunked(40)} AS rt_text, " +
          "CAST(ceil(len(w)/40.0) AS BIGINT) AS blocks FROM a " +
          s"UNION ALL SELECT $urlExpr AS url, ${chunked(60)} AS rt_text, " +
          "CAST(ceil(len(w)/60.0) AS BIGINT) AS blocks FROM p) " +
          "SELECT url, rt_text, GREATEST(1, CAST(ceil(blocks/10.0) AS INT)) AS pdf_pages FROM u"),
      "e15_hocr_roundtrip" ->
        (s"WITH d AS (SELECT doc_id, $words AS w FROM documents WHERE $htmlKindsA) " +
          s"SELECT $urlExpr AS url, 1 AS page_count, CAST(len(w) AS INT) AS word_count, " +
          "TRUE AS has_spans FROM d"),
      "e13_density_family_b" -> {
        // expected family-B extraction (HtmlGen.expectedTextB): the fixed
        // near-threshold keeper block, then the 40/5/40... chunk layout
        // (>= 90 words) or plain 40s, dropping a trailing <= 3-word chunk
        def join(off: String, n: String) =
          s"array_to_string(list_transform(range($n), i -> " +
            s"array_to_string(w[$off + i*40 + 1 : least($off + (i+1)*40, nw)], ' ')), chr(10))"
        s"WITH d AS (SELECT doc_id, $words AS w FROM documents WHERE $famB), " +
          "x AS (SELECT doc_id, w, len(w) AS nw FROM d), " +
          "y AS (SELECT doc_id, w, nw, CAST(ceil(nw/40.0) AS BIGINT) AS ncha, " +
          "CAST(ceil((nw-45)/40.0) AS BIGINT) AS nrc FROM x), " +
          "z AS (SELECT doc_id, w, nw, " +
          "ncha - (CASE WHEN nw - (ncha-1)*40 <= 3 THEN 1 ELSE 0 END) AS keepa, " +
          "nrc - (CASE WHEN (nw-45) - (nrc-1)*40 <= 3 THEN 1 ELSE 0 END) AS keepr FROM y) " +
          s"SELECT $urlExpr AS url, " +
          s"'${gen.HtmlGen.PickText}' || " +
          "CASE WHEN nw >= 90 THEN chr(10) || array_to_string(w[1:40], ' ') || " +
          "chr(10) || array_to_string(w[41:45], ' ') || " +
          s"(CASE WHEN keepr > 0 THEN chr(10) || ${join("45", "keepr")} ELSE '' END) " +
          s"ELSE (CASE WHEN keepa > 0 THEN chr(10) || ${join("0", "keepa")} ELSE '' END) END AS text " +
          "FROM z"
      },
      "e14_density_family_c" -> {
        // expected family-C extraction (HtmlGen.expectedTextC): fixed
        // intro anchor + 25-word chunks, dropping a trailing <= 3-word chunk
        val join25 = "array_to_string(list_transform(range(keep), i -> " +
          "array_to_string(w[i*25 + 1 : least((i+1)*25, nw)], ' ')), chr(10))"
        s"WITH d AS (SELECT doc_id, $words AS w FROM documents WHERE $famC), " +
          "x AS (SELECT doc_id, w, len(w) AS nw FROM d), " +
          "y AS (SELECT doc_id, w, nw, CAST(ceil(nw/25.0) AS BIGINT) AS nch FROM x), " +
          "z AS (SELECT doc_id, w, nw, " +
          "nch - (CASE WHEN nw - (nch-1)*25 <= 3 THEN 1 ELSE 0 END) AS keep FROM y) " +
          s"SELECT $urlExpr AS url, " +
          s"'${gen.HtmlGen.IntroText}' || " +
          s"(CASE WHEN keep > 0 THEN chr(10) || $join25 ELSE '' END) AS text FROM z"
      },
      // outlink oracle: the generator's hrefs/anchors are pure functions
      // of doc_id (HtmlGen render/renderB/renderC) — reconstruct them per
      // template family at their exact document positions, entities
      // pre-decoded (&amp; &laquo; &raquo; &hellip; as their characters)
      "e22_outlinks" -> (linksCte(htmlKindsA, famB, famC) +
        s"SELECT $urlExpr AS url, CAST(link_no AS INT) AS link_no, href, anchor FROM u"),
      // resolved-links oracle: the same per-family link reconstruction,
      // with relative hrefs resolved against the page host (every
      // generator href is either root-relative or already-canonical
      // absolute, so resolution is a host prefix — the richer RFC 3986
      // cases are pinned by the Urls kernel spec)
      "e25_resolved_links" -> (linksCte(htmlKindsA, famB, famC) +
        s"SELECT $urlExpr AS url, CAST(link_no AS INT) AS link_no, " +
        "CASE WHEN href LIKE 'https://%' THEN href ELSE 'https://' || " +
        "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
        "|| href END AS to_url FROM u"),
      // host-rank oracle: rebuild the blogroll edge list from the doc_id
      // formulas, then unroll the SAME three integer power iterations —
      // floor division everywhere, so the match is bit-exact
      "e23_host_rank" ->
        (s"WITH ${hostRankCtes(htmlKinds)} " +
          "SELECT h AS host, CAST(r AS BIGINT) AS rank FROM r3"),
      // e65 oracle: e23's three unrolled rank iterations + e60's
      // reciprocity CTEs on the same edge base, host-keyed left join,
      // NULL-not-0 for in-link-only hosts, ring-before-authority CASE
      "e65_host_scorecard" ->
        (s"WITH ${hostRankCtes(htmlKinds)}, " +
          "eg AS MATERIALIZED (SELECT DISTINCT src, dst FROM w WHERE src <> dst), " +
          "rc AS (SELECT e.src, count(*) AS nr FROM eg e " +
          "JOIN eg r2x ON e.src = r2x.dst AND e.dst = r2x.src GROUP BY 1), " +
          "oc AS (SELECT src, count(*) AS no FROM eg GROUP BY 1) " +
          "SELECT r3.h AS host, CAST(r3.r AS BIGINT) AS rank, " +
          "CAST(no AS BIGINT) AS n_out, " +
          "CASE WHEN no IS NOT NULL THEN CAST(coalesce(nr, 0) AS BIGINT) END AS n_reciprocal, " +
          "CASE WHEN no IS NOT NULL THEN CAST((1000000 * coalesce(nr, 0)) // no AS BIGINT) END AS recip_ppm, " +
          "CASE WHEN no IS NOT NULL AND (1000000 * coalesce(nr, 0)) // no >= 500000 AND no >= 2 THEN 'ring_suspect' " +
          "WHEN r3.r >= 2 * (1000000000000 // (SELECT n FROM p)) THEN 'authority' " +
          "WHEN no IS NULL THEN 'leaf' ELSE 'normal' END AS verdict " +
          "FROM r3 LEFT JOIN oc ON oc.src = r3.h LEFT JOIN rc ON rc.src = r3.h"),
      // e60 oracle: same edge base as e23, distinct de-self-looped
      // pairs, reversal self-join on the full (src,dst) key, floor-div
      // ppm — a MATCH pins dedup-before-reciprocity and the pair join
      "e60_reciprocity" ->
        (s"WITH ${hostEdgeCtes(htmlKinds)}, " +
          "eg AS MATERIALIZED (SELECT DISTINCT src, dst FROM w WHERE src <> dst), " +
          "rc AS (SELECT e.src, count(*) AS nr FROM eg e " +
          "JOIN eg r ON e.src = r.dst AND e.dst = r.src GROUP BY 1), " +
          "oc AS (SELECT src, count(*) AS no FROM eg GROUP BY 1) " +
          "SELECT oc.src AS host, CAST(no AS BIGINT) AS n_out, " +
          "CAST(coalesce(nr, 0) AS BIGINT) AS n_reciprocal, " +
          "CAST((1000000 * coalesce(nr, 0)) // no AS BIGINT) AS recip_ppm " +
          "FROM oc LEFT JOIN rc ON rc.src = oc.src"),
      // e46 oracle: same edge base as e23, seeds by the same md5 hash,
      // three unrolled min-merge rounds with depth = d(src)+1
      "e46_crawl_depth" ->
        (s"WITH ${hostEdgeCtes(htmlKinds)}, " +
          "eg AS MATERIALIZED (SELECT DISTINCT src, dst FROM w WHERE src <> dst), " +
          "s0 AS MATERIALIZED (SELECT h AS host, 0 AS d FROM nodes " +
          "WHERE ('0x' || substr(md5('seed:' || h),1,15))::BIGINT % 7 = 0), " +
          "d1 AS MATERIALIZED (SELECT host, min(d) AS d FROM (SELECT host, d FROM s0 " +
          "UNION ALL SELECT eg.dst, s0.d + 1 FROM eg JOIN s0 ON eg.src = s0.host) GROUP BY 1), " +
          "d2 AS MATERIALIZED (SELECT host, min(d) AS d FROM (SELECT host, d FROM d1 " +
          "UNION ALL SELECT eg.dst, d1.d + 1 FROM eg JOIN d1 ON eg.src = d1.host) GROUP BY 1), " +
          "d3 AS MATERIALIZED (SELECT host, min(d) AS d FROM (SELECT host, d FROM d2 " +
          "UNION ALL SELECT eg.dst, d2.d + 1 FROM eg JOIN d2 ON eg.src = d2.host) GROUP BY 1) " +
          "SELECT nodes.h AS host, CAST(d3.d AS INT) AS depth " +
          "FROM nodes LEFT JOIN d3 ON d3.host = nodes.h"),
      // e48 oracle: same edge base as e23/e46 made undirected, four
      // unrolled min-label rounds, then the label-size rollup — string
      // min is codepoint order on both engines for these ASCII hosts
      "e48_components" ->
        (s"WITH ${hostEdgeCtes(htmlKinds)}, " +
          "eg AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
          "(SELECT src, dst FROM w UNION ALL SELECT dst, src FROM w) WHERE src <> dst), " +
          "l0 AS MATERIALIZED (SELECT h AS host, h AS c FROM nodes), " +
          "l1 AS MATERIALIZED (SELECT host, min(c) AS c FROM (SELECT host, c FROM l0 " +
          "UNION ALL SELECT eg.dst, l0.c FROM eg JOIN l0 ON eg.src = l0.host) GROUP BY 1), " +
          "l2 AS MATERIALIZED (SELECT host, min(c) AS c FROM (SELECT host, c FROM l1 " +
          "UNION ALL SELECT eg.dst, l1.c FROM eg JOIN l1 ON eg.src = l1.host) GROUP BY 1), " +
          "l3 AS MATERIALIZED (SELECT host, min(c) AS c FROM (SELECT host, c FROM l2 " +
          "UNION ALL SELECT eg.dst, l2.c FROM eg JOIN l2 ON eg.src = l2.host) GROUP BY 1), " +
          "l4 AS MATERIALIZED (SELECT host, min(c) AS c FROM (SELECT host, c FROM l3 " +
          "UNION ALL SELECT eg.dst, l3.c FROM eg JOIN l3 ON eg.src = l3.host) GROUP BY 1), " +
          "sz AS (SELECT c, count(*) AS n FROM l4 GROUP BY 1) " +
          "SELECT l4.host AS host, l4.c AS comp, CAST(sz.n AS BIGINT) AS comp_size " +
          "FROM l4 JOIN sz ON l4.c = sz.c"),
      // e49 oracle: same undirected edge base as e48; triangles counted
      // once each via name-canonical a<b<c edges (orientation-free —
      // the Spark op's degree ordering yields the identical set), then
      // per-host participation and the 1e6*2*tri // (d*(d-1)) floor
      "e49_triangles" ->
        (s"WITH ${hostEdgeCtes(htmlKinds)}, " +
          "und AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
          "(SELECT src, dst FROM w UNION ALL SELECT dst, src FROM w) WHERE src <> dst), " +
          "dg AS (SELECT src AS host, count(*) AS degree FROM und GROUP BY 1), " +
          "ce AS (SELECT src AS a, dst AS b FROM und WHERE src < dst), " +
          "tr AS (SELECT e1.a, e1.b, e2.b AS c FROM ce e1 " +
          "JOIN ce e2 ON e2.a = e1.b JOIN ce e3 ON e3.a = e1.a AND e3.b = e2.b), " +
          "ph AS (SELECT host, count(*) AS tri FROM " +
          "(SELECT a AS host FROM tr UNION ALL SELECT b FROM tr UNION ALL SELECT c FROM tr) GROUP BY 1) " +
          "SELECT nodes.h AS host, CAST(coalesce(dg.degree, 0) AS BIGINT) AS degree, " +
          "CAST(coalesce(ph.tri, 0) AS BIGINT) AS tri, " +
          "CAST(CASE WHEN coalesce(dg.degree, 0) >= 2 THEN 1000000 * 2 * coalesce(ph.tri, 0) // (dg.degree * (dg.degree - 1)) END AS BIGINT) AS cc_ppm " +
          "FROM nodes LEFT JOIN dg ON dg.host = nodes.h LEFT JOIN ph ON ph.host = nodes.h"),
      // e47 oracle: both url sets rebuilt arithmetically (the declared
      // side pre-decoded — a MATCH proves the XML parse + entity decode
      // survived through the coverage join), same full-outer + host
      // rollup shape
      "e47_sitemap_coverage" ->
        ("WITH decl AS (SELECT DISTINCT 'https://sm' || (doc_id % 11) || '.example.com/' || " +
          "(CASE t.j WHEN 2 THEN 'p2?x=1&y=2' ELSE 'p' || t.j END) AS url " +
          "FROM documents, range(3) t(j) WHERE doc_id % 4 = 0), " +
          "cr AS (SELECT DISTINCT 'https://sm' || (doc_id % 11) || '.example.com/' || " +
          "(CASE WHEN doc_id % 5 = 2 THEN 'p2?x=1&y=2' ELSE 'p' || (doc_id % 5) END) AS url " +
          "FROM documents), " +
          "j AS (SELECT coalesce(decl.url, cr.url) AS url, " +
          "CASE WHEN decl.url IS NOT NULL THEN 1 ELSE 0 END AS d, " +
          "CASE WHEN cr.url IS NOT NULL THEN 1 ELSE 0 END AS c " +
          "FROM decl FULL OUTER JOIN cr ON decl.url = cr.url), " +
          "a AS (SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host, " +
          "sum(d) AS n_declared, sum(c) AS n_crawled, " +
          "sum(CASE WHEN d = 1 AND c = 1 THEN 1 ELSE 0 END) AS n_both FROM j GROUP BY 1) " +
          "SELECT host, CAST(n_declared AS BIGINT) AS n_declared, " +
          "CAST(n_crawled AS BIGINT) AS n_crawled, CAST(n_both AS BIGINT) AS n_both, " +
          "CAST(n_declared - n_both AS BIGINT) AS missing, " +
          "CAST(n_crawled - n_both AS BIGINT) AS extra, " +
          "CAST(CASE WHEN n_declared > 0 THEN 1000000 * n_both // n_declared END AS BIGINT) " +
          "AS coverage_ppm FROM a"),
      // e44 oracle: HITS unrolled — same edge base as e23, hub/auth
      // joined from the final round
      "e44_hits" ->
        (s"WITH ${hitsCtes(htmlKinds)} " +
          "SELECT hh3.h AS host, CAST(hh3.v AS BIGINT) AS hub, " +
          "CAST(aa3.v AS BIGINT) AS auth FROM hh3 JOIN aa3 ON hh3.h = aa3.h"),
      // host-table oracle: the e23 unrolled rank iterations, the e24
      // anchor resolution (window form, a-prefixed CTEs — hostRankCtes
      // owns f/e0), page volume per host, FULL OUTER + LEFT composed
      "p6_host_table" -> {
        val srcExpr = "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END"
        s"WITH ${hostRankCtes(htmlKinds)}, " +
          s"ae0 AS (SELECT $srcExpr AS src, 'h' || ((doc_id * 11 + i) % 97) || '.example.com' AS dst, " +
          "'mirror ' || ((doc_id * 11 + i) % 97) AS anchor FROM f, range(4) t(i) " +
          s"UNION ALL SELECT $srcExpr, 'big.example.com', 'hub site' FROM f WHERE doc_id % 2 = 0), " +
          "apa AS (SELECT dst, anchor, count(*) AS cnt FROM ae0 GROUP BY 1, 2), " +
          "atp AS (SELECT dst, anchor, cnt, row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor) AS rn FROM apa), " +
          "ast AS (SELECT dst, count(*) AS inlinks, count(DISTINCT src) AS src_hosts FROM ae0 GROUP BY 1), " +
          "anch AS (SELECT ast.dst AS host, ast.inlinks, ast.src_hosts, atp.anchor AS top_anchor, atp.cnt AS tac " +
          "FROM ast JOIN atp ON ast.dst = atp.dst AND atp.rn = 1), " +
          s"pc AS (SELECT host, count(*) AS n_pages FROM (SELECT $srcExpr AS host FROM documents WHERE $htmlKinds) GROUP BY 1), " +
          "base AS (SELECT coalesce(r3.h, pc.host) AS host, coalesce(r3.r, 0) AS rank, " +
          "coalesce(pc.n_pages, 0) AS n_pages FROM r3 FULL OUTER JOIN pc ON r3.h = pc.host) " +
          "SELECT base.host, CAST(base.rank AS BIGINT) AS rank, CAST(base.n_pages AS BIGINT) AS n_pages, " +
          "CAST(coalesce(anch.inlinks, 0) AS BIGINT) AS inlinks, " +
          "CAST(coalesce(anch.src_hosts, 0) AS BIGINT) AS src_hosts, anch.top_anchor, " +
          "CAST(coalesce(anch.tac, 0) AS BIGINT) AS top_anchor_cnt " +
          "FROM base LEFT JOIN anch ON anch.host = base.host"
      },
      // composed web pipeline: per-page title + external-link count
      // (template formulas) joined to the SAME unrolled rank iterations
      "p2_web_pipeline" -> {
        val hostExpr = "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END"
        s"WITH ${hostRankCtes(htmlKinds)}, " +
          s"pages AS (SELECT doc_id, $urlExpr AS url, 'Synthetic document ' || doc_id AS title, 0 AS nx FROM documents WHERE $htmlKindsA " +
          s"UNION ALL SELECT doc_id, $urlExpr, 'Feed ' || doc_id, 4 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END FROM documents WHERE $famB " +
          s"UNION ALL SELECT doc_id, $urlExpr, 'Notes ' || doc_id, 4 + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END FROM documents WHERE $famC) " +
          s"SELECT url, title, CAST(nx AS INT) AS n_ext_links, CAST(COALESCE(r3.r, 0) AS BIGINT) AS host_rank " +
          s"FROM pages LEFT JOIN r3 ON r3.h = $hostExpr"
      },
      // frontier oracle: resolved targets from the shared link CTE,
      // grouped per target with distinct referrers, minus crawled urls
      // (disjoint on this corpus — overlap pinned by the unit test),
      // with the same first-match rule CASE
      "e26_crawl_frontier" -> (linksCte(htmlKindsA, famB, famC) +
        s", r AS (SELECT $urlExpr AS src_url, " +
        "CASE WHEN href LIKE 'https://%' THEN href ELSE 'https://' || " +
        "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
        "|| href END AS to_url FROM u), " +
        "g AS (SELECT to_url, count(*) AS n_refs, count(DISTINCT src_url) AS n_srcs FROM r GROUP BY 1), " +
        s"cw AS (SELECT $urlExpr AS url FROM documents WHERE $htmlKinds) " +
        "SELECT to_url, n_refs, n_srcs, " +
        "CASE WHEN regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/promo/%' " +
        "OR regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/pick/%' THEN 'spam_path' " +
        "WHEN regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) IN ('/privacy', '/imprint') THEN 'nav_path' " +
        "ELSE 'ok' END AS rule, " +
        "CASE WHEN regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/promo/%' " +
        "OR regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/pick/%' THEN FALSE " +
        "WHEN regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) IN ('/privacy', '/imprint') THEN FALSE " +
        "ELSE TRUE END AS allowed " +
        "FROM g WHERE to_url NOT IN (SELECT url FROM cw)"),
      // e57 oracle: the e26 edge/crawled CTEs with a per-source-host
      // rollup of the NOT-IN-crawled verdict, long-div ppm
      "e57_link_rot" -> (linksCte(htmlKindsA, famB, famC) +
        s", r AS (SELECT $urlExpr AS src_url, " +
        "CASE WHEN href LIKE 'https://%' THEN href ELSE 'https://' || " +
        "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
        "|| href END AS to_url FROM u), " +
        s"cw AS (SELECT $urlExpr AS url FROM documents WHERE $htmlKinds), " +
        "dg AS (SELECT regexp_extract(src_url, 'https?://([^/]+)', 1) AS host, " +
        "CASE WHEN to_url IN (SELECT url FROM cw) THEN 0 ELSE 1 END AS d FROM r) " +
        "SELECT host, count(*) AS n_links, CAST(SUM(d) AS BIGINT) AS n_dangling, " +
        "CAST(1000000 * SUM(d) // count(*) AS BIGINT) AS dangling_ppm " +
        "FROM dg GROUP BY host"),
      // robots oracle: same frontier targets, same md5-keyed per-host rule
      // synthesis, but longest-match resolved by a WINDOW (length DESC,
      // allow DESC) instead of the min(struct) aggregate — an
      // algorithm-independent formulation of RFC 9309 2.2.2
      "e28_robots_filter" -> (linksCte(htmlKindsA, famB, famC) +
        s", r AS (SELECT $urlExpr AS src_url, " +
        "CASE WHEN href LIKE 'https://%' THEN href ELSE 'https://' || " +
        "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
        "|| href END AS to_url FROM u), " +
        "g AS (SELECT to_url FROM r GROUP BY 1), " +
        s"cw AS (SELECT $urlExpr AS url FROM documents WHERE $htmlKinds), " +
        "f AS (SELECT to_url FROM g WHERE to_url NOT IN (SELECT url FROM cw)), " +
        "uu AS (SELECT to_url, regexp_extract(to_url, 'https?://([^/]+)', 1) AS host, " +
        "CASE WHEN regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) = '' THEN '/' " +
        "ELSE regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) END AS path FROM f), " +
        "hk AS (SELECT host, ('0x' || substr(md5('rb:' || host),1,15))::BIGINT AS k " +
        "FROM (SELECT DISTINCT host FROM uu)), " +
        "rules AS (SELECT host, '/cat' AS prefix, FALSE AS allow FROM hk WHERE k % 2 = 0 " +
        "UNION ALL SELECT host, '/cat/1', TRUE FROM hk WHERE k % 2 = 0 " +
        "UNION ALL SELECT host, '/rel', FALSE FROM hk WHERE k % 3 = 0 " +
        "UNION ALL SELECT host, '/rel', TRUE FROM hk WHERE k % 3 = 0 " +
        "UNION ALL SELECT host, '/', FALSE FROM hk WHERE k % 7 = 0), " +
        "m AS (SELECT uu.to_url, rl.allow, row_number() OVER (PARTITION BY uu.to_url " +
        "ORDER BY length(rl.prefix) DESC, rl.allow DESC) AS rn " +
        "FROM uu JOIN rules rl ON rl.host = uu.host AND starts_with(uu.path, rl.prefix)) " +
        "SELECT f.to_url, coalesce(m.allow, TRUE) AS robots_allowed " +
        "FROM f LEFT JOIN m ON m.to_url = f.to_url AND m.rn = 1"),
      // politeness-schedule oracle: the same frontier targets (allowed
      // only), then the plain one-window formulation (row_number per
      // host by n_refs DESC, url) the salted two-stage provably equals
      "e29_politeness_schedule" -> (linksCte(htmlKindsA, famB, famC) +
        s", r AS (SELECT $urlExpr AS src_url, " +
        "CASE WHEN href LIKE 'https://%' THEN href ELSE 'https://' || " +
        "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
        "|| href END AS to_url FROM u), " +
        "g AS (SELECT to_url, count(*) AS n_refs FROM r GROUP BY 1), " +
        s"cw AS (SELECT $urlExpr AS url FROM documents WHERE $htmlKinds), " +
        "f AS (SELECT to_url, n_refs, regexp_extract(to_url, 'https?://([^/]+)', 1) AS host " +
        "FROM g WHERE to_url NOT IN (SELECT url FROM cw) " +
        "AND NOT (regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/promo/%' " +
        "OR regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/pick/%' " +
        "OR regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) IN ('/privacy', '/imprint'))), " +
        "rk AS (SELECT to_url, host, row_number() OVER (PARTITION BY host " +
        "ORDER BY n_refs DESC, to_url) AS rn FROM f) " +
        "SELECT to_url, host, CAST(rn - 1 AS INT) AS slot, " +
        "CAST((rn - 1) * 1000 AS BIGINT) AS fetch_offset_ms FROM rk WHERE rn <= 4"),
      // e71 oracle: e29's schedule window composed with e70's Hamilton
      // apportionment over the SAME allowed-frontier host mix (window
      // rank for extras — the algorithm-independent formulation), slots
      // kept strictly below the granted quota
      "e71_budgeted_schedule" -> (linksCte(htmlKindsA, famB, famC) +
        s", r AS (SELECT $urlExpr AS src_url, " +
        "CASE WHEN href LIKE 'https://%' THEN href ELSE 'https://' || " +
        "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
        "|| href END AS to_url FROM u), " +
        "g AS (SELECT to_url, count(*) AS n_refs FROM r GROUP BY 1), " +
        s"cw AS (SELECT $urlExpr AS url FROM documents WHERE $htmlKinds), " +
        "f AS (SELECT to_url, n_refs, regexp_extract(to_url, 'https?://([^/]+)', 1) AS host " +
        "FROM g WHERE to_url NOT IN (SELECT url FROM cw) " +
        "AND NOT (regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/promo/%' " +
        "OR regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/pick/%' " +
        "OR regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) IN ('/privacy', '/imprint'))), " +
        "hw AS (SELECT host, count(*) AS n_pages FROM f GROUP BY 1), " +
        "ht AS (SELECT sum(n_pages) AS total FROM hw), " +
        "hb AS (SELECT host, (61 * n_pages) // total AS base, (61 * n_pages) % total AS rem FROM hw, ht), " +
        "hd AS (SELECT 61 - sum(base) AS deficit FROM hb), " +
        "hx AS (SELECT host, row_number() OVER (ORDER BY rem DESC, host) AS xr FROM hb), " +
        "hq AS (SELECT hb.host, least(3, base + CASE WHEN xr <= deficit THEN 1 ELSE 0 END) AS quota " +
        "FROM hb JOIN hx USING (host) CROSS JOIN hd), " +
        "rk AS (SELECT to_url, host, row_number() OVER (PARTITION BY host " +
        "ORDER BY n_refs DESC, to_url) AS rn FROM f) " +
        "SELECT to_url, rk.host, CAST(rn - 1 AS INT) AS slot, " +
        "CAST((rn - 1) * 1000 AS BIGINT) AS fetch_offset_ms, CAST(quota AS BIGINT) AS quota " +
        "FROM rk JOIN hq ON hq.host = rk.host WHERE rn <= 4 AND rn - 1 < quota"),
      // recrawl-delta oracle: the same twin snapshot CTEs, full-outer
      // joined on the key, verdict as the same CASE ladder
      "e30_recrawl_delta" ->
        ("WITH o AS (SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 7 <> 3), " +
          "n AS (SELECT doc_id, md5(CASE WHEN doc_id % 4 = 1 THEN text || ' upd' ELSE text END) AS h " +
          "FROM documents WHERE doc_id % 7 <> 5) " +
          "SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id, " +
          "CASE WHEN o.doc_id IS NULL THEN 'new' WHEN n.doc_id IS NULL THEN 'gone' " +
          "WHEN o.h = n.h THEN 'unchanged' ELSE 'changed' END AS status " +
          "FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id"),
      // e41 oracle: every section row derived arithmetically per kind —
      // a MATCH proves the breadcrumb stack (sibling replace at equal
      // level, skipped-level nesting), the preamble rule, block-tag
      // word breaks, and the unclosed-heading EOF recovery
      "e41_heading_outline" -> e41Sql,
      // t33 oracle: the same section rows, word-windowed in SQL — slices
      // past the end truncate, so the tail chunk carries the remainder
      "t33_section_chunks" ->
        (s"WITH sec AS ($e41Sql), " +
          "sw AS (SELECT doc_id, section_idx, path, regexp_split_to_array(sec_text, ' ') AS w " +
          "FROM sec WHERE sec_text <> '') " +
          "SELECT doc_id, section_idx, CAST(p AS INT) AS part_idx, path, " +
          "array_to_string(w[p*4+1 : p*4+4], ' ') AS chunk_text, " +
          "CAST(least(len(w) - p*4, 4) AS INT) AS n_words " +
          "FROM sw, unnest(range((len(w) + 3) // 4)) u(p)"),
      // e40 oracle: every cell derived arithmetically per kind — header
      // row + data grid (dims from doc_id), the omitted-closers grid
      // (same logical cells as if fully closed), the nested pair with
      // the outer cell's text NOT containing the inner's, sibling tables
      // with decoded entities, and the no-table pages contributing zero
      // rows
      "e40_table_extract" ->
        ("SELECT doc_id, 0 AS table_idx, 0 AS row_idx, CAST(c AS INT) AS col_idx, " +
          "true AS is_header, 'h'||c||'_'||doc_id AS cell_text " +
          "FROM documents, unnest(range(2 + doc_id % 2)) u(c) WHERE doc_id % 5 = 0 " +
          "UNION ALL " +
          "SELECT doc_id, 0, CAST(r + 1 AS INT), CAST(c AS INT), false, 'c'||r||'_'||c||'_'||doc_id " +
          "FROM documents, unnest(range(1 + doc_id % 3)) ur(r), unnest(range(2 + doc_id % 2)) uc(c) " +
          "WHERE doc_id % 5 = 0 " +
          "UNION ALL " +
          "SELECT doc_id, 0, CAST(r AS INT), CAST(c AS INT), false, 'm'||r||c||'_'||doc_id " +
          "FROM documents, unnest(range(2)) ur(r), unnest(range(2)) uc(c) WHERE doc_id % 5 = 1 " +
          "UNION ALL " +
          "SELECT doc_id, 0, 0, 0, false, 'out ' || doc_id FROM documents WHERE doc_id % 5 = 2 " +
          "UNION ALL " +
          "SELECT doc_id, 1, 0, CAST(c AS INT), false, 'in'||doc_id||'_'||c " +
          "FROM documents, unnest(range(2)) u(c) WHERE doc_id % 5 = 2 " +
          "UNION ALL " +
          "SELECT doc_id, CAST(t AS INT), 0, 0, false, 'x & y '||doc_id||'_'||t " +
          "FROM documents, unnest(range(2)) u(t) WHERE doc_id % 5 = 3"),
      // e39 oracle: the whole TTL ladder and clamp re-derived as doc_id
      // arithmetic — a MATCH proves precedence (no-store/no-cache over
      // max-age over Expires-Date over default), the case-insensitive
      // max-age parse, the stale-Expires floor, and the 30-day cap
      "e39_revalidation" ->
        (s"WITH $e39PolCte SELECT doc_id, ttl_s, next_fetch_ts, mode FROM pol"),
      // p9 oracle: e39's policy CTE -> due filter at the fixed NOW ->
      // the PLAIN per-host ranked window the salted two-phase replaces
      "p9_refetch_schedule" ->
        (s"WITH $e39PolCte, " +
          "due AS (SELECT doc_id, 'h' || (doc_id % 23) AS host, mode, next_fetch_ts " +
          "FROM pol WHERE next_fetch_ts <= 1700100000), " +
          "r AS (SELECT *, row_number() OVER (PARTITION BY host ORDER BY next_fetch_ts, doc_id) AS rk FROM due) " +
          "SELECT doc_id, host, mode, next_fetch_ts, CAST(rk - 1 AS INT) AS slot FROM r WHERE rk <= 4"),
      // crawl-cycle pipeline oracle: the e26 rule-allowed frontier, the
      // e28 robots resolution (window form) over it, then the e29 plain
      // one-window schedule over the doubly-gated targets
      "p5_crawl_pipeline" -> (linksCte(htmlKindsA, famB, famC) +
        s", r AS (SELECT $urlExpr AS src_url, " +
        "CASE WHEN href LIKE 'https://%' THEN href ELSE 'https://' || " +
        "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
        "|| href END AS to_url FROM u), " +
        "g AS (SELECT to_url, count(*) AS n_refs FROM r GROUP BY 1), " +
        s"cw AS (SELECT $urlExpr AS url FROM documents WHERE $htmlKinds), " +
        "f AS (SELECT to_url, n_refs, regexp_extract(to_url, 'https?://([^/]+)', 1) AS host " +
        "FROM g WHERE to_url NOT IN (SELECT url FROM cw) " +
        "AND NOT (regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/promo/%' " +
        "OR regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) LIKE '/pick/%' " +
        "OR regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) IN ('/privacy', '/imprint'))), " +
        "uu AS (SELECT to_url, host, " +
        "CASE WHEN regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) = '' THEN '/' " +
        "ELSE regexp_extract(to_url, 'https?://[^/]+(/.*)', 1) END AS path FROM f), " +
        "hk AS (SELECT host, ('0x' || substr(md5('rb:' || host),1,15))::BIGINT AS k " +
        "FROM (SELECT DISTINCT host FROM uu)), " +
        "rules AS (SELECT host, '/cat' AS prefix, FALSE AS allow FROM hk WHERE k % 2 = 0 " +
        "UNION ALL SELECT host, '/cat/1', TRUE FROM hk WHERE k % 2 = 0 " +
        "UNION ALL SELECT host, '/rel', FALSE FROM hk WHERE k % 3 = 0 " +
        "UNION ALL SELECT host, '/rel', TRUE FROM hk WHERE k % 3 = 0 " +
        "UNION ALL SELECT host, '/', FALSE FROM hk WHERE k % 7 = 0), " +
        "m AS (SELECT uu.to_url, rl.allow, row_number() OVER (PARTITION BY uu.to_url " +
        "ORDER BY length(rl.prefix) DESC, rl.allow DESC) AS rn " +
        "FROM uu JOIN rules rl ON rl.host = uu.host AND starts_with(uu.path, rl.prefix)), " +
        "rb AS (SELECT f.to_url, f.n_refs, f.host FROM f " +
        "LEFT JOIN m ON m.to_url = f.to_url AND m.rn = 1 " +
        "WHERE coalesce(m.allow, TRUE)), " +
        "rk AS (SELECT to_url, host, row_number() OVER (PARTITION BY host " +
        "ORDER BY n_refs DESC, to_url) AS rn FROM rb) " +
        "SELECT to_url, host, CAST(rn - 1 AS INT) AS slot, " +
        "CAST((rn - 1) * 1000 AS BIGINT) AS fetch_offset_ms FROM rk WHERE rn <= 4"),
      // bloom oracle: rebuild the identical bit set (same k md5 positions
      // mod 4096) as a DISTINCT position set, probe = all-k-positions-
      // present (LEFT JOIN + bool_and), same candidate union and the same
      // verdict CASE order — false positives must MATCH, not just occur
      "e31_bloom_seen" -> (linksCte(htmlKindsA, famB, famC) +
        ", r AS (SELECT CASE WHEN href LIKE 'https://%' THEN href ELSE 'https://' || " +
        "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
        "|| href END AS to_url FROM u), " +
        s"cw AS (SELECT $urlExpr AS url FROM documents WHERE $htmlKinds), " +
        "cand AS (SELECT DISTINCT to_url FROM (SELECT to_url FROM r " +
        "UNION ALL SELECT url FROM cw WHERE ('0x' || substr(md5(url), 1, 15))::BIGINT % 3 = 0)), " +
        "pos AS (SELECT DISTINCT ('0x' || substr(md5('bl' || i || ':' || url), 1, 15))::BIGINT % 4096 AS p " +
        "FROM cw CROSS JOIN range(3) t(i)), " +
        "cp AS (SELECT to_url, ('0x' || substr(md5('bl' || i || ':' || to_url), 1, 15))::BIGINT % 4096 AS p " +
        "FROM cand CROSS JOIN range(3) t(i)), " +
        "hv AS (SELECT cp.to_url, bool_and(pos.p IS NOT NULL) AS bloom_hit " +
        "FROM cp LEFT JOIN pos ON pos.p = cp.p GROUP BY 1), " +
        "tc AS (SELECT hv.to_url, hv.bloom_hit, (c2.url IS NOT NULL) AS truly_crawled " +
        "FROM hv LEFT JOIN (SELECT DISTINCT url FROM cw) c2 ON c2.url = hv.to_url) " +
        "SELECT to_url, bloom_hit, truly_crawled, " +
        "CASE WHEN truly_crawled AND bloom_hit THEN 'seen' " +
        "WHEN bloom_hit THEN 'false_positive' " +
        "WHEN NOT truly_crawled THEN 'unseen' ELSE 'false_negative' END AS verdict FROM tc"),
      // url-canonicalization oracle: identical aug, identical fold chain
      // (fragment -> www -> split -> drop tracking/empty -> sort ->
      // reassemble); starts_with (NOT LIKE — '_' is a LIKE wildcard)
      "e32_url_canonical" ->
        ("WITH raw AS (SELECT doc_id, 'https://' || " +
          "CASE WHEN doc_id % 6 = 2 THEN 'www.' ELSE '' END || " +
          "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END || " +
          "'/page/' || (doc_id % 50) || " +
          "CASE WHEN doc_id % 3 = 0 THEN '?utm_source=news&utm_campaign=c' || (doc_id % 7) " +
          "WHEN doc_id % 3 = 1 THEN '?b=' || (doc_id % 5) || '&utm_medium=email&a=1' ELSE '' END || " +
          "CASE WHEN doc_id % 4 = 1 THEN '#sec' || (doc_id % 3) ELSE '' END AS url FROM documents), " +
          "f1 AS (SELECT doc_id, url, " +
          "regexp_replace(regexp_replace(url, '#.*$', ''), '^(https?://)www\\.', '\\1') AS fd FROM raw), " +
          "f2 AS (SELECT doc_id, url, regexp_extract(fd, '^[^?]*') AS base, " +
          "regexp_extract(fd, '\\?(.*)$', 1) AS q FROM f1), " +
          "f3 AS (SELECT doc_id, url, base, list_filter(string_split(q, '&'), p -> p <> '') AS rawp FROM f2), " +
          "f4 AS (SELECT doc_id, url, base, rawp, list_sort(list_filter(rawp, p -> NOT (" +
          "starts_with(p, 'utm_') OR starts_with(p, 'gclid=') OR starts_with(p, 'fbclid=') OR " +
          "starts_with(p, 'ref=') OR starts_with(p, 'sessionid=')))) AS kept FROM f3), " +
          "f5 AS (SELECT doc_id, url, rawp, kept, base || " +
          "CASE WHEN len(kept) > 0 THEN '?' || array_to_string(kept, '&') ELSE '' END AS canonical_url FROM f4) " +
          "SELECT doc_id, url, canonical_url, CAST(len(rawp) AS INT) AS n_params_raw, " +
          "CAST(len(kept) AS INT) AS n_params_kept, canonical_url <> url AS changed FROM f5"),
      // e35 oracle: directives arithmetic from doc_id — decoy kinds
      // (stylesheet rel, commented-out canonical, robots inside script)
      // must all come back null/false
      "e35_page_directives" ->
        ("SELECT doc_id, " +
          "CASE doc_id % 5 WHEN 0 THEN 'https://c.example.com/p' || (doc_id % 50) " +
          "WHEN 2 THEN 'https://c.example.com/q' || (doc_id % 7) " +
          "WHEN 3 THEN 'https://first.example.com/a' || (doc_id % 3) END AS canonical, " +
          "CASE doc_id % 5 WHEN 1 THEN 'NOINDEX, nofollow' WHEN 2 THEN 'none' " +
          "WHEN 3 THEN 'index, follow' END AS robots, " +
          "CASE WHEN doc_id % 5 IN (1, 2) THEN true ELSE false END AS noindex, " +
          "CASE WHEN doc_id % 5 IN (1, 2) THEN true ELSE false END AS nofollow " +
          "FROM documents"),
      // e37 oracle: arithmetic per kind — CDATA loc raw, entity loc
      // decoded, loc-less entry allocated NO row, invalid = marker row,
      // empty urlset = no rows at all
      "e37_sitemap_entries" ->
        ("SELECT doc_id, 'urlset' AS kind, CAST(t.j AS INT) AS idx, " +
          "CASE t.j WHEN 0 THEN 'https://s' || (doc_id % 7) || '.example.com/p0' " +
          "WHEN 1 THEN 'https://s' || (doc_id % 7) || '.example.com/p1?a=1&b=2' " +
          "ELSE 'https://s' || (doc_id % 7) || '.example.com/p2?x=1&y=2' END AS loc, " +
          "CASE WHEN t.j = 0 THEN '2026-01-0' || (doc_id % 9 + 1) END AS lastmod " +
          "FROM documents, range(3) t(j) WHERE doc_id % 5 = 0 " +
          "UNION ALL SELECT doc_id, 'sitemapindex', CAST(t.j AS INT), " +
          "'https://t' || (doc_id % 6) || '.example.com/sitemap' || t.j || '.xml', " +
          "CAST(NULL AS VARCHAR) FROM documents, range(2) t(j) WHERE doc_id % 5 = 1 " +
          "UNION ALL SELECT doc_id, 'urlset', 0, " +
          "'https://u' || (doc_id % 3) || '.example.com/only', CAST(NULL AS VARCHAR) " +
          "FROM documents WHERE doc_id % 5 = 2 " +
          "UNION ALL SELECT doc_id, 'invalid', CAST(NULL AS INT), CAST(NULL AS VARCHAR), " +
          "CAST(NULL AS VARCHAR) FROM documents WHERE doc_id % 5 = 3"),
      // e42 oracle: arithmetic entries per kind — RSS item2 (no link) and
      // the Atom self-only entry contribute NO row; '&amp;' decodes; the
      // CDATA title is taken raw; the Atom rel=self link is skipped in
      // favor of the alternate; the empty %5=4 feed contributes nothing
      "e42_feed_entries" ->
        ("SELECT doc_id, 'rss' AS kind, CAST(t.j AS INT) AS idx, " +
          "CASE t.j WHEN 0 THEN 'Post & notes ' || (doc_id % 4) " +
          "ELSE 'Raw <b> title' END AS title, " +
          "'https://f' || (doc_id % 7) || '.example.com/' || " +
          "CASE t.j WHEN 0 THEN 'a0?x=1&y=2' ELSE 'a1' END AS link, " +
          "CASE WHEN t.j = 0 THEN 'Mon, 0' || (doc_id % 9 + 1) || ' Jan 2026 00:00:00 GMT' END AS stamp " +
          "FROM documents, range(2) t(j) WHERE doc_id % 5 = 0 " +
          "UNION ALL SELECT doc_id, 'atom', CAST(t.j AS INT), " +
          "CASE t.j WHEN 0 THEN 'E0 ' || (doc_id % 4) ELSE 'E1' END, " +
          "'https://a' || (doc_id % 6) || '.example.com/' || " +
          "CASE t.j WHEN 0 THEN 'e0' ELSE 'e1?a=1&b=2' END, " +
          "CASE WHEN t.j = 0 THEN '2026-03-0' || (doc_id % 9 + 1) || 'T00:00:00Z' END " +
          "FROM documents, range(2) t(j) WHERE doc_id % 5 = 1 " +
          "UNION ALL SELECT doc_id, 'rss', 0, 'Up ' || (doc_id % 4), " +
          "'https://u' || (doc_id % 3) || '.example.com/up', 'Tue, 10 Feb 2026 00:00:00 GMT' " +
          "FROM documents WHERE doc_id % 5 = 2 " +
          "UNION ALL SELECT doc_id, 'invalid', CAST(NULL AS INT), CAST(NULL AS VARCHAR), " +
          "CAST(NULL AS VARCHAR), CAST(NULL AS VARCHAR) FROM documents WHERE doc_id % 5 = 3"),
      // e43 oracle: the date each family's precedence/fallthrough must
      // yield, derived arithmetically — the garbage-meta family lands on
      // 'time', the commented-out-meta family on 'none'
      "e43_pub_dates" ->
        ("SELECT doc_id, CASE doc_id % 6 " +
          "WHEN 0 THEN '2026-01-0' || (doc_id % 9 + 1) " +
          "WHEN 1 THEN '2026-02-1' || (doc_id % 9) " +
          "WHEN 2 THEN '2026-03-0' || (doc_id % 9 + 1) " +
          "WHEN 4 THEN '2026-04-0' || (doc_id % 9 + 1) " +
          "WHEN 5 THEN '2026-05-0' || (doc_id % 9 + 1) END AS pub_date, " +
          "CASE doc_id % 6 WHEN 0 THEN 'meta' WHEN 1 THEN 'time' " +
          "WHEN 2 THEN 'url' WHEN 3 THEN 'none' WHEN 4 THEN 'time' " +
          "ELSE 'meta' END AS source FROM documents"),
      // e45 oracle: arithmetic rule rows per family — the graft-prefix
      // group loses to graftbot (family 0 has exactly 3 rules, not 4),
      // the orphan rule and empty Disallow allocate NO row, family 3 is
      // the rule-less marker that still carries its global sitemap, and
      // family 4's first NUMERIC crawl-delay survives the 'soon' decoy
      "e45_robots_rules" ->
        ("SELECT doc_id, CAST(t.j AS INT) AS idx, " +
          "CASE t.j WHEN 0 THEN '/a' || (doc_id % 4) || '/' WHEN 1 THEN '/' " +
          "ELSE '/z' || (doc_id % 3) || '/' END AS prefix, " +
          "t.j = 0 AS allow, CAST(NULL AS BIGINT) AS crawl_delay, " +
          "CAST(NULL AS VARCHAR) AS sitemaps " +
          "FROM documents, range(3) t(j) WHERE doc_id % 5 = 0 " +
          "UNION ALL SELECT doc_id, CAST(t.j AS INT), " +
          "'/c' || (doc_id % 5) || '/' || CASE t.j WHEN 0 THEN '' ELSE 'deep' END, " +
          "t.j = 1, CAST(doc_id % 7 + 1 AS BIGINT), CAST(NULL AS VARCHAR) " +
          "FROM documents, range(2) t(j) WHERE doc_id % 5 = 1 " +
          "UNION ALL SELECT doc_id, CAST(t.j AS INT), " +
          "'/tmp' || (doc_id % 3) || '/' || CASE t.j WHEN 0 THEN '' ELSE 'pub' END, " +
          "t.j = 1, CAST(NULL AS BIGINT), " +
          "'https://s' || (doc_id % 6) || '.example.com/sitemap.xml' " +
          "FROM documents, range(2) t(j) WHERE doc_id % 5 = 2 " +
          "UNION ALL SELECT doc_id, CAST(NULL AS INT), CAST(NULL AS VARCHAR), " +
          "true, CAST(NULL AS BIGINT), " +
          "'https://n' || (doc_id % 3) || '.example.com/s.xml' " +
          "FROM documents WHERE doc_id % 5 = 3 " +
          "UNION ALL SELECT doc_id, CAST(0 AS INT), '/only' || (doc_id % 2) || '/', " +
          "false, CAST(doc_id % 5 + 2 AS BIGINT), " +
          "'https://m' || (doc_id % 4) || '.example.com/a.xml,https://m' || " +
          "(doc_id % 4) || '.example.com/b.xml' " +
          "FROM documents WHERE doc_id % 5 = 4"),
      // e36 oracle: arithmetic alternates per kind — the RSS alternate
      // (no hreflang) contributes NO row, DE case-folds to de
      "e36_hreflang_alternates" ->
        ("SELECT doc_id, CAST(t.j AS INT) AS idx, " +
          "CASE WHEN doc_id % 4 = 1 THEN ['en','de','fr'][CAST(j+1 AS INT)] " +
          "ELSE ['x-default','en'][CAST(j+1 AS INT)] END AS hreflang, " +
          "CASE WHEN doc_id % 4 = 1 THEN 'https://x' || (doc_id % 9) || '.example.com/' || ['en','de','fr'][CAST(j+1 AS INT)] " +
          "WHEN j = 0 THEN 'https://y' || (doc_id % 5) || '.example.com/' " +
          "ELSE 'https://y' || (doc_id % 5) || '.example.com/en' END AS href " +
          "FROM documents, range(3) t(j) " +
          "WHERE (doc_id % 4 = 1 AND j < 3) OR (doc_id % 4 = 2 AND j < 2)"),
      // e34 oracle: the same edge CTE, the 4-hop resolution UNROLLED as
      // chained left joins (the e23 iteration-unroll pattern), terminal
      // status via one more join against the distinct source set
      "e34_resolve_redirects" -> {
        val step = (k: Int) => s"f$k AS (SELECT f.origin, coalesce(e.dst, f.cur) AS cur, " +
          "f.hops + CASE WHEN e.dst IS NULL THEN 0 ELSE 1 END AS hops " +
          s"FROM f${k - 1} f LEFT JOIN ed e ON e.src = f.cur), "
        "WITH ed AS (SELECT 'https://r' || doc_id || '.example.com/' || j AS src, " +
          "'https://r' || doc_id || '.example.com/' || (j + 1) AS dst " +
          "FROM documents, range(5) t(j) WHERE j < doc_id % 5 " +
          "UNION ALL SELECT 'https://r' || doc_id || '.example.com/' || (doc_id % 5), " +
          "'https://r' || doc_id || '.example.com/0' FROM documents " +
          "WHERE doc_id % 7 = 3 AND doc_id % 5 >= 1), " +
          "f1 AS (SELECT src AS origin, dst AS cur, 1 AS hops FROM ed), " +
          step(2) + step(3) + step(4) +
          "m AS (SELECT DISTINCT src FROM ed) " +
          "SELECT f.origin AS src, f.cur AS final_url, CAST(f.hops AS INT) AS hops, " +
          "CASE WHEN m.src IS NULL THEN 'ok' ELSE 'capped' END AS status " +
          "FROM f4 f LEFT JOIN m ON m.src = f.cur"
      },
      // e33 oracle: PSL matching in window/join form (algorithm-
      // independent of the Spark side's map-only per-rule greatest):
      // explode host suffixes, join the rule VALUES (wildcards stored as
      // their tail with the full-rule label count k; exceptions carry
      // pslen = k - 1), resolve exception-first then longest, default 1
      "e33_domain_rollup" ->
        ("WITH ha AS (SELECT doc_id, CASE doc_id % 6 " +
          "WHEN 0 THEN 'www.site' || (doc_id % 5) || '.co.uk' " +
          "WHEN 1 THEN 'a' || (doc_id % 3) || '.b' || (doc_id % 2) || '.github.io' " +
          "WHEN 2 THEN 'sub' || (doc_id % 7) || '.farm' || (doc_id % 4) || '.com' " +
          "WHEN 3 THEN 'x' || (doc_id % 3) || '.w' || (doc_id % 2) || '.ck' " +
          "WHEN 4 THEN CASE WHEN doc_id % 12 = 4 THEN 'www.ck' ELSE 'intranet' END " +
          "ELSE 'h' || (doc_id % 11) || '.example.org' END AS host FROM documents), " +
          "rules(suf, wild, exc, k) AS (VALUES " +
          "('com', false, false, 1), ('org', false, false, 1), ('net', false, false, 1), " +
          "('io', false, false, 1), ('uk', false, false, 1), ('co.uk', false, false, 2), " +
          "('ac.uk', false, false, 2), ('gov.uk', false, false, 2), ('github.io', false, false, 2), " +
          "('jp', false, false, 1), ('co.jp', false, false, 2), " +
          "('ck', true, false, 2), ('www.ck', false, true, 2)), " +
          "lb AS (SELECT doc_id, host, len(string_split(host, '.')) AS n FROM ha), " +
          "cand AS (SELECT doc_id, host, n, CAST(t.k AS INT) AS k, " +
          "array_to_string((string_split(host, '.'))[n-k+1:n], '.') AS s " +
          "FROM lb, range(1, 7) t(k) WHERE k <= n), " +
          "m AS (SELECT c.doc_id, r.exc, CASE WHEN r.exc THEN r.k - 1 ELSE r.k END AS pslen " +
          "FROM cand c JOIN rules r ON " +
          "(NOT r.wild AND c.k = r.k AND c.s = r.suf) OR " +
          "(r.wild AND c.k = r.k - 1 AND c.s = r.suf AND c.n >= r.k)), " +
          "b AS (SELECT l.doc_id, l.host, l.n, " +
          "coalesce(max(CASE WHEN m.exc THEN m.pslen END), " +
          "max(CASE WHEN NOT m.exc THEN m.pslen END), 1) AS ps " +
          "FROM lb l LEFT JOIN m ON m.doc_id = l.doc_id GROUP BY l.doc_id, l.host, l.n), " +
          "reg AS (SELECT host, CASE WHEN n > ps THEN " +
          "array_to_string((string_split(host, '.'))[n-ps:n], '.') END AS rd FROM b) " +
          "SELECT coalesce(rd, '(none)') AS domain, CAST(count(DISTINCT host) AS BIGINT) AS n_hosts, " +
          "CAST(count(*) AS BIGINT) AS n_pages FROM reg GROUP BY 1"),
      // doc-metadata oracle: titles and h1s are template literals per
      // family (HtmlGen render/renderB/renderC; B/C have no h1)
      "e27_doc_metadata" ->
        (s"SELECT $urlExpr AS url, 'Synthetic document ' || doc_id AS title, " +
          s"'Müller & Söhne «Webkorpus» #' || doc_id AS h1 FROM documents WHERE $htmlKindsA " +
          s"UNION ALL SELECT $urlExpr, 'Feed ' || doc_id, '' FROM documents WHERE $famB " +
          s"UNION ALL SELECT $urlExpr, 'Notes ' || doc_id, '' FROM documents WHERE $famC"),
      // anchor-profile oracle: the same blogroll edge reconstruction as
      // e23 plus the generator's anchor formulas ('mirror N' for the
      // rotating blogroll, 'hub site' for the even-doc hub link), then
      // the profile aggregation expressed with a window (same result as
      // the Spark side's min(struct) — ties broken by anchor asc)
      "e24_anchor_profile" -> {
        val srcExpr = "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END"
        s"WITH f AS (SELECT doc_id FROM documents WHERE $htmlKinds AND (doc_id % 23 = 5 OR doc_id % 23 = 11)), " +
          s"e0 AS (SELECT $srcExpr AS src, 'h' || ((doc_id * 11 + i) % 97) || '.example.com' AS dst, " +
          "'mirror ' || ((doc_id * 11 + i) % 97) AS anchor FROM f, range(4) t(i) " +
          s"UNION ALL SELECT $srcExpr, 'big.example.com', 'hub site' FROM f WHERE doc_id % 2 = 0), " +
          "pa AS (SELECT dst, anchor, count(*) AS cnt FROM e0 GROUP BY 1, 2), " +
          "tp AS (SELECT dst, anchor, cnt, row_number() OVER (PARTITION BY dst ORDER BY cnt DESC, anchor) AS rn FROM pa), " +
          "st AS (SELECT dst, count(*) AS inlinks, count(DISTINCT src) AS src_hosts FROM e0 GROUP BY 1) " +
          "SELECT st.dst AS host, st.inlinks, st.src_hosts, tp.anchor AS top_anchor, " +
          "CAST(tp.cnt AS BIGINT) AS top_anchor_cnt FROM st JOIN tp ON st.dst = tp.dst AND tp.rn = 1"
      },
    ) ++ Map("e8_size_histogram" -> e8Oracle) ++ trainingOracles
  }

  /** e8 oracle: DuckDB reconstructs the HtmlGen payload BYTE-FOR-BYTE
    * from (doc_id, text, lang) — every literal below mirrors a line of
    * gen/HtmlGen.scala render() — then buckets octet_length like
    * MetricsStage.sizeHistogram. junk = 256 bytes (junkBytes), oversize =
    * base + 12 + (70*1024 - base + 1024) + 13 = 72729 when the base page
    * fits (oversizedBytes filler arithmetic), re-crawled urls
    * (doc_id % 20 = 3) count twice (PagesGen.isDup emits the row twice).
    * PDF payloads are excluded (Deflate output length is not computable
    * in SQL); the Spark query applies the same non-pdf filter.
    */
  /** DuckDB expression rebuilding the family-A HtmlGen payload string
    * byte-for-byte from (doc_id, lang, w) — every literal mirrors a
    * line of gen/HtmlGen.render(). Shared by the e8 size histogram and
    * the e61 extraction-yield oracle.
    */
  private def htmlAPayloadExpr: String = {
    val charset =
      """CASE CAST(doc_id % 4 AS INT) WHEN 0 THEN '<meta charset="utf-8">' WHEN 1 THEN '<meta charset=UTF-8>' WHEN 2 THEN '<meta http-equiv="Content-Type" content="text/html; charset=utf-8">' ELSE e'<meta charset=\'utf-8\'>' END"""
    val nav =
      """array_to_string(list_transform(range(5), i -> '<li><a href="/cat/' || ((doc_id + i) % 13) || '">Category ' || ((doc_id + i) % 13) || '</a>' || CASE WHEN doc_id % 4 = 1 THEN '' ELSE '</li>' END), e'\n      ')"""
    val rel =
      """array_to_string(list_transform(range(4), i -> '      <li><a href="/rel/' || ((doc_id * 7 + i) % 31) || '">Related post ' || ((doc_id * 7 + i) % 31) || ' &hellip;</a></li>'), e'\n')"""
    val paras =
      """array_to_string(list_transform(range(CAST(ceil(len(w) / 40.0) AS BIGINT)), i -> e'      <p>' || array_to_string(w[(i*40+1):least((i+1)*40, len(w))], ' ') || e'</p>\n'), '')"""
    val htmlStr =
      """e'<!DOCTYPE html>\n<html lang="' || lang || e'">\n<head>\n  ' || """ + charset +
        """ || e'\n  <title>Synthetic document ' || doc_id || """ +
        """e'</title>\n  <style>body { color: #333; } .x > .y { margin: 0; }</style>\n  <script>var gnarly = 1 < 2 && "</div>"; // <p>not text</p></script>\n</head>\n<body>\n  <header>\n    <h1><a href="/">Müller &amp; Söhne &laquo;Webkorpus&raquo; #' || doc_id || """ +
        """e'</a></h1>\n    <nav>\n      <ul>\n      ' || """ + nav +
        """ || e'\n      </ul>\n    </nav>\n  </header>\n  <!-- boilerplate below; comment with <fake tags> and -- dashes -->\n  <aside class="cookie" data-x=\'q"uote\'>We use cookies to improve your experience <a href="/privacy">Learn more</a> <button>OK ' || doc_id || """ +
        """e'</button> stray < bracket</aside>\n  <main>\n    <article>\n' || """ + paras +
        """ || e'    </article>\n  </main>\n  <aside>\n    <ul>\n' || """ + rel +
        """ || e'\n    </ul>\n  </aside>\n  <footer><p>&copy; 2026 Example Corp &middot; <a href="/imprint">Impressum</a> &#8211; id&nbsp;' || doc_id || """ +
        """e'</p></footer>\n</body>\n</html>\n'"""
    htmlStr
  }

  private def e8Oracle: String = {
    val htmlStr = htmlAPayloadExpr
    "WITH d AS (SELECT doc_id, lang, text, regexp_split_to_array(trim(text), '\\s+') AS w, " +
      "CASE WHEN doc_id % 37 = 0 THEN 'junk' WHEN doc_id % 41 = 0 THEN 'oversize' ELSE 'html' END AS kind, " +
      "CASE WHEN doc_id % 20 = 3 THEN 2 ELSE 1 END AS copies " +
      "FROM documents WHERE NOT (doc_id % 37 <> 0 AND doc_id % 41 <> 0 AND doc_id % 10 = 7) " +
      "AND NOT (doc_id % 37 <> 0 AND doc_id % 41 <> 0 AND doc_id % 10 <> 7 AND (doc_id % 23 = 5 OR doc_id % 23 = 11))), " +
      s"h AS (SELECT kind, copies, octet_length(encode($htmlStr)) AS blen FROM d), " +
      "sz AS (SELECT kind, copies, CASE kind WHEN 'junk' THEN 256 " +
      "WHEN 'oversize' THEN (CASE WHEN blen > 71680 THEN blen ELSE 72729 END) ELSE blen END AS nb FROM h) " +
      "SELECT CASE WHEN nb <= 10240 THEN 'le_10KB' WHEN nb <= 51200 THEN 'le_50KB' " +
      "WHEN nb <= 102400 THEN 'le_100KB' WHEN nb <= 512000 THEN 'le_500KB' " +
      "WHEN nb <= 1048576 THEN 'le_1MB' WHEN nb <= 5242880 THEN 'le_5MB' ELSE 'gt_5MB' END AS size_bucket, " +
      "CAST(SUM(copies) AS BIGINT) AS n FROM sz GROUP BY 1"
  }

  /** Shared host-rank CTE chain for the e23/p2 oracles: rebuilds the
    * blogroll edge list from the doc_id formulas, then unrolls the SAME
    * three integer power iterations as GraphOps.hostRank — floor
    * division everywhere, so the match is bit-exact. Ends with CTE
    * `r3(h, r)`; callers prepend "WITH " and append their SELECT.
    */
  /** The shared e23/e44 host-edge CTE base: f (link-bearing html docs),
    * e0 (generator-formula edges), w (weighted), od (out-degree), nodes,
    * p (node count). Mirrors [[hostEdges]].
    */
  private def hostEdgeCtes(htmlKinds: String): String = {
    val srcExpr = "CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
      "ELSE 'h' || (doc_id % 97) || '.example.com' END"
    s"f AS (SELECT doc_id FROM documents WHERE $htmlKinds AND (doc_id % 23 = 5 OR doc_id % 23 = 11)), " +
      s"e0 AS (SELECT $srcExpr AS src, 'h' || ((doc_id * 11 + i) % 97) || '.example.com' AS dst FROM f, range(4) t(i) " +
      s"UNION ALL SELECT $srcExpr, 'big.example.com' FROM f WHERE doc_id % 2 = 0), " +
      "w AS (SELECT src, dst, count(*) AS wt FROM e0 GROUP BY 1, 2), " +
      "od AS (SELECT src, CAST(SUM(wt) AS BIGINT) AS outdeg FROM w GROUP BY 1), " +
      "nodes AS (SELECT src AS h FROM w UNION SELECT dst FROM w), " +
      "p AS (SELECT count(*) AS n FROM nodes)"
  }

  private def hostRankCtes(htmlKinds: String): String = {
    def iterCte(prev: String, out: String): String =
      s"$out AS (SELECT nodes.h, (SELECT ((1000000000000 * 15) // 100) // n FROM p) + COALESCE(s.c, 0) AS r " +
        s"FROM nodes LEFT JOIN (SELECT w.dst AS h, SUM(w.wt * ((($prev.r * 85) // 100) // od.outdeg)) AS c " +
        s"FROM w JOIN od ON w.src = od.src JOIN $prev ON $prev.h = w.src GROUP BY w.dst) s ON nodes.h = s.h)"
    hostEdgeCtes(htmlKinds) + ", " +
      "r0 AS (SELECT h, (SELECT 1000000000000 // n FROM p) AS r FROM nodes), " +
      iterCte("r0", "r1") + ", " + iterCte("r1", "r2") + ", " + iterCte("r2", "r3")
  }

  /** e44 oracle CTEs: the HITS iterations unrolled — authority from
    * hubs, division-only renormalization (d = max(1, sum//scale)),
    * hubs from the fresh authorities; 3 rounds like the Spark op.
    * Every iteration CTE is MATERIALIZED: each level references the
    * previous one ~3× (join + scalar-sum + carry), so DuckDB's default
    * CTE inlining re-executes the whole chain ~3^6 times across the six
    * unrolled passes — materialization turns that exponential blowup
    * back into the linear plan the Spark op runs.
    */
  private def hitsCtes(htmlKinds: String): String = {
    val sc = "1000000000"
    def authCte(hubPrev: String, rawOut: String, out: String): String =
      s"${rawOut} AS MATERIALIZED (SELECT w.dst AS h, SUM(w.wt * $hubPrev.v) AS raw " +
        s"FROM w JOIN $hubPrev ON $hubPrev.h = w.src GROUP BY w.dst), " +
        s"$out AS MATERIALIZED (SELECT nodes.h, COALESCE(r.raw // (SELECT greatest(1, SUM(raw) // $sc) FROM $rawOut), 0) AS v " +
        s"FROM nodes LEFT JOIN $rawOut r ON nodes.h = r.h)"
    def hubCte(authPrev: String, rawOut: String, out: String): String =
      s"${rawOut} AS MATERIALIZED (SELECT w.src AS h, SUM(w.wt * $authPrev.v) AS raw " +
        s"FROM w JOIN $authPrev ON $authPrev.h = w.dst GROUP BY w.src), " +
        s"$out AS MATERIALIZED (SELECT nodes.h, COALESCE(r.raw // (SELECT greatest(1, SUM(raw) // $sc) FROM $rawOut), 0) AS v " +
        s"FROM nodes LEFT JOIN $rawOut r ON nodes.h = r.h)"
    hostEdgeCtes(htmlKinds) + ", " +
      s"hh0 AS MATERIALIZED (SELECT h, (SELECT $sc // n FROM p) AS v FROM nodes), " +
      authCte("hh0", "ar1", "aa1") + ", " + hubCte("aa1", "hr1", "hh1") + ", " +
      authCte("hh1", "ar2", "aa2") + ", " + hubCte("aa2", "hr2", "hh2") + ", " +
      authCte("hh2", "ar3", "aa3") + ", " + hubCte("aa3", "hr3", "hh3")
  }

  /** Shared link-reconstruction CTE for the e22/e25 oracles: every
    * generator href/anchor is a pure function of doc_id, rebuilt per
    * template family (HtmlGen render/renderB/renderC) at its exact
    * document position, entities pre-decoded (&amp; &laquo; &raquo;
    * &hellip; as their characters). Ends with CTE `u(doc_id, link_no,
    * href, anchor)` — callers append their SELECT.
    */
  private def linksCte(htmlKindsA: String, famB: String, famC: String): String = {
    val bAnchors = "['top stories','world news','local sport','tech desk','art corner','site map']"
    s"WITH a AS (SELECT doc_id FROM documents WHERE $htmlKindsA), " +
      s"b AS (SELECT doc_id FROM documents WHERE $famB), " +
      s"c AS (SELECT doc_id FROM documents WHERE $famC), " +
      "la AS (" +
      "SELECT doc_id, 0 AS link_no, '/' AS href, 'Müller & Söhne «Webkorpus» #' || doc_id AS anchor FROM a " +
      "UNION ALL SELECT doc_id, CAST(1 + i AS INT), '/cat/' || ((doc_id + i) % 13), 'Category ' || ((doc_id + i) % 13) FROM a, range(5) t(i) " +
      "UNION ALL SELECT doc_id, 6, '/privacy', 'Learn more' FROM a " +
      "UNION ALL SELECT doc_id, CAST(7 + i AS INT), '/rel/' || ((doc_id * 7 + i) % 31), 'Related post ' || ((doc_id * 7 + i) % 31) || ' …' FROM a, range(4) t(i) " +
      "UNION ALL SELECT doc_id, 11, '/imprint', 'Impressum' FROM a), " +
      "lb AS (" +
      s"SELECT doc_id, CAST(i AS INT) AS link_no, '/f/' || i AS href, ($bAnchors)[i + 1] AS anchor FROM b, range(6) t(i) " +
      "UNION ALL SELECT doc_id, 6, '/pick/' || doc_id, 'read more now' FROM b " +
      "UNION ALL SELECT doc_id, 7, '/promo/' || doc_id, 'shop the big sale' FROM b " +
      "UNION ALL SELECT doc_id, CAST(8 + i AS INT), 'https://h' || ((doc_id * 11 + i) % 97) || '.example.com/', 'mirror ' || ((doc_id * 11 + i) % 97) FROM b, range(4) t(i) " +
      "UNION ALL SELECT doc_id, 12, 'https://big.example.com/', 'hub site' FROM b WHERE doc_id % 2 = 0), " +
      "lc AS (" +
      "SELECT doc_id, 0 AS link_no, '/t/a' AS href, 'alpha beta' AS anchor FROM c " +
      "UNION ALL SELECT doc_id, 1, '/t/g', 'gamma delta' FROM c " +
      "UNION ALL SELECT doc_id, CAST(2 + i AS INT), 'https://h' || ((doc_id * 11 + i) % 97) || '.example.com/', 'mirror ' || ((doc_id * 11 + i) % 97) FROM c, range(4) t(i) " +
      "UNION ALL SELECT doc_id, 6, 'https://big.example.com/', 'hub site' FROM c WHERE doc_id % 2 = 0), " +
      "u AS (SELECT * FROM la UNION ALL SELECT * FROM lb UNION ALL SELECT * FROM lc) "
  }

  /** Oracles for the training-data pipeline ops. All hashing is md5 so
    * DuckDB reproduces Spark bit-for-bit; every float output is rounded
    * from identically-ordered double arithmetic; sums that DuckDB would
    * widen to HUGEINT are cast back (pandas renders HUGEINT as float).
    */
  /** The BPE learn chain as DuckDB CTEs (tok, w0, p1/m1..pK/mK, w1..wK-1)
    * — shared by the t19 (merge table) and p3 (application) oracles.
    */
  private def bpeChainSql(k: Int): String = {
    val w = "regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+')"
    val sb = new StringBuilder
    sb.append("WITH tok AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM (" +
      s"SELECT unnest($w) AS word FROM documents WHERE length(text) >= 1) " +
      "WHERE regexp_matches(word, '^[a-z]+" + "$" + "') GROUP BY 1), " +
      "w0 AS (SELECT regexp_replace(word, '(.)', '(\\1)', 'g') AS s, cnt FROM tok)")
    for (i <- 1 to k) {
      sb.append(s", p$i AS (SELECT split_part(pr, '|', 1) AS l, " +
        "split_part(pr, '|', 2) AS r, CAST(sum(cnt) AS BIGINT) AS c FROM (" +
        "SELECT unnest(list_transform(range(len(sy) - 1), " +
        "i -> sy[i+1] || '|' || sy[i+2])) AS pr, cnt " +
        s"FROM (SELECT str_split(s[2:len(s)-1], ')(') AS sy, cnt FROM w${i - 1})) " +
        "GROUP BY 1, 2)")
      sb.append(s", m$i AS (SELECT l, r, c FROM p$i ORDER BY c DESC, l, r LIMIT 1)")
      if (i < k)
        sb.append(s", w$i AS (SELECT replace(w${i - 1}.s, " +
          s"'(' || m$i.l || ')(' || m$i.r || ')', '(' || m$i.l || m$i.r || ')') AS s, " +
          s"cnt FROM w${i - 1}, m$i)")
    }
    sb.toString
  }

  /** The t14 quality-rules oracle (decorated text + every gate + keep) —
    * a val-shaped helper so the p4 datasheet oracle can embed it as a
    * parenthesized subquery.
    */
  /** t14/t36 shared decorated-text CTE chain (d, l, a) — mirrors
    * TrainingOps.decoratedText byte-for-byte; `a` carries (doc_id, w0, t).
    */
  private def decoratedTextCte(w: String): String = {
    val lineExpr =
      "(CASE WHEN doc_id % 13 = 4 OR (doc_id + i) % 7 = 0 THEN '- ' ELSE '' END) || " +
        "array_to_string(w0[(i*12+1):least((i+1)*12, len(w0))], ' ') || " +
        "(CASE WHEN doc_id % 11 = 6 OR (doc_id + i) % 5 = 0 THEN '...' ELSE '.' END)"
    s"d AS (SELECT doc_id, $w AS w0 FROM documents WHERE length(text) >= 1), " +
      "l AS (SELECT doc_id, w0, list_transform(range((len(w0)-1) // 12 + 1), i -> " +
      lineExpr + ") AS lines FROM d), " +
      "a AS (SELECT doc_id, w0, array_to_string(lines, chr(10)) || " +
      "(CASE WHEN doc_id % 19 = 2 THEN chr(10) || trim(repeat('7 ', CAST(ceil(len(w0)/2.0) AS BIGINT))) ELSE '' END) || " +
      "(CASE WHEN doc_id % 31 = 9 THEN chr(10) || 'lorem ipsum dolor sit amet' ELSE '' END) || " +
      "(CASE WHEN doc_id % 29 = 3 THEN chr(10) || 'function f() { return 1; }' ELSE '' END) AS t FROM l)"
  }

  private def t14Oracle(w: String): String = {
    s"WITH ${decoratedTextCte(w)}, " +
      "m AS (SELECT doc_id, w0, t, " +
      "regexp_split_to_array(t, '[ \\t\\n\\r\\f\\x0B]+') AS lw, " +
      "string_split(t, chr(10)) AS ls FROM a), " +
      "r AS (SELECT doc_id, CAST(len(lw) AS INT) AS n_words, " +
      "round(list_sum(list_transform(lw, x -> length(x)))::DOUBLE / len(lw), 4) AS mean_wlen, " +
      "round(len(list_filter(ls, x -> x LIKE '- %'))::DOUBLE / len(ls), 4) AS bullet_ratio, " +
      "round(len(list_filter(ls, x -> x LIKE '%...'))::DOUBLE / len(ls), 4) AS ellipsis_ratio, " +
      "round(len(list_filter(lw, x -> regexp_matches(x, '[a-zA-Z]')))::DOUBLE / len(lw), 4) AS alpha_ratio, " +
      "CAST(" + Seq("the", "a", "of", "and", "to", "in", "is", "it")
        .map(s0 => s"(CASE WHEN list_contains(w0, '$s0') THEN 1 ELSE 0 END)")
        .mkString(" + ") + " AS INT) AS n_stop, " +
      "(instr(t, 'lorem ipsum') > 0) AS has_lorem, (instr(t, '{') > 0) AS has_brace FROM m) " +
      "SELECT *, (n_words BETWEEN 50 AND 100000 AND mean_wlen BETWEEN 3.0 AND 10.0 " +
      "AND bullet_ratio <= 0.9 AND ellipsis_ratio <= 0.3 AND alpha_ratio >= 0.8 " +
      "AND n_stop >= 2 AND NOT has_lorem AND NOT has_brace) AS keep FROM r"
  }

  private def trainingOracles: Map[String, String] = {
    // explicit whitespace class, matching TrainingOps.wsClass: Java \s
    // includes \x0B, RE2 \s does not — never use \s in a shared contract
    val w = "regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+')"
    // 3-word shingles of w (needs len(w) >= 3)
    val sh3 = "list_transform(range(len(w)-2), i -> array_to_string(w[i+1:i+3], ' '))"
    // exact-dedup pre-pass (rep = min doc_id per distinct text), DISTINCT
    // shingle sets, and the band-bucket cap — mirrors TrainingOps.repSets/
    // bandedPairs (MaxBandBucket = 64)
    val minhashBands =
      "WITH r AS (SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text " +
        "FROM documents GROUP BY md5(text)), " +
        s"f AS (SELECT doc_id, $w AS w FROM r WHERE len($w) >= 3), " +
        s"sh AS (SELECT doc_id, list_distinct($sh3) AS s FROM f), " +
        "sig AS (SELECT doc_id, list_transform(range(12), k -> " +
        "list_min(list_transform(s, x -> md5(k || ':' || x)))) AS g FROM sh), " +
        "bands AS (SELECT doc_id, t.bd, md5(g[bd*3+1] || '|' || g[bd*3+2] || '|' || g[bd*3+3]) AS bv " +
        "FROM sig, range(4) t(bd)), " +
        "bc AS (SELECT bd, bv FROM bands GROUP BY bd, bv HAVING count(*) BETWEEN 2 AND 64), " +
        "gb AS (SELECT b.doc_id, b.bd, b.bv FROM bands b JOIN bc USING (bd, bv)), " +
        "pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM gb x " +
        "JOIN gb y ON x.bd = y.bd AND x.bv = y.bv AND x.doc_id < y.doc_id)"
    val stopEn = "('the','a','of','and','to','in','is','it')"
    // transitive closure over the verified near-dup pair graph — shared
    // by d10 (the cluster table itself) and d24 (representative
    // selection over it)
    val d10Sql =
      minhashBands.replaceFirst("WITH ", "WITH RECURSIVE ") +
        ", jp AS (SELECT a, b FROM (SELECT p.a, p.b, " +
        "round(len(list_intersect(sa.s, sb.s))::DOUBLE / len(list_distinct(sa.s || sb.s)), 4) AS jaccard " +
        "FROM pairs p JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b) WHERE jaccard >= 0.4), " +
        "sym AS (SELECT a, b FROM jp UNION SELECT b AS a, a AS b FROM jp), " +
        "reach(src, dst) AS (SELECT doc_id, doc_id FROM r " +
        "UNION SELECT reach.src, sym.b FROM reach JOIN sym ON reach.dst = sym.a), " +
        "cl AS (SELECT src AS rep, MIN(dst) AS cluster_id FROM reach GROUP BY src), " +
        "dm AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY md5(text)) AS rep FROM documents), " +
        "x AS (SELECT dm.doc_id, cl.cluster_id FROM dm JOIN cl ON dm.rep = cl.rep) " +
        "SELECT doc_id, cluster_id, CAST(count(*) OVER (PARTITION BY cluster_id) AS BIGINT) AS cluster_size, " +
        "doc_id = cluster_id AS is_keeper FROM x"
    // d28: the same two Lloyd iterations unrolled relationally — ppm
    // quantization, BIGINT distances, truncating-division means (DuckDB
    // // == Java / on BIGINT), empty-cell COALESCE carry; the init
    // centroids re-derive the md5 formula with the exact double
    // expression the Scala side uses (h / 2^59 * 1e6, floored)
    val kmeansOracle = {
      val init = "SELECT CAST(t.c AS INT) AS c, CAST(u.i AS INT) AS i, " +
        "CAST(floor(CAST(('0x' || substr(md5('c:' || t.c || ':' || u.i), 1, 15))::BIGINT AS DOUBLE) " +
        "/ 576460752303423488.0 * 1000000) AS BIGINT) - 1000000 AS p " +
        "FROM range(8) t(c), range(64) u(i)"
      def assign(cn: String, dn: String, an: String) =
        s"$dn AS (SELECT q.vec_id, cc.c, SUM((q.qi - cc.p) * (q.qi - cc.p)) AS d2 " +
          s"FROM q JOIN $cn cc ON cc.i = q.i GROUP BY 1, 2), " +
          s"$an AS (SELECT vec_id, c AS cell, d2 FROM (SELECT *, row_number() OVER " +
          s"(PARTITION BY vec_id ORDER BY d2, c) AS rn FROM $dn) WHERE rn = 1)"
      def update(an: String, cn: String, nn: String) =
        s"s$nn AS (SELECT a.cell, q.i, CAST(SUM(q.qi) AS BIGINT) AS s, COUNT(*) AS n " +
          s"FROM $an a JOIN q ON q.vec_id = a.vec_id GROUP BY 1, 2), " +
          s"$nn AS (SELECT c0.c, c0.i, COALESCE(s$nn.s // s$nn.n, c0.p) AS p " +
          s"FROM $cn c0 LEFT JOIN s$nn ON s$nn.cell = c0.c AND s$nn.i = c0.i)"
      "WITH q AS (SELECT vec_id, CAST(t.i AS INT) AS i, " +
        "CAST(floor(CAST(embedding[t.i + 1] AS DOUBLE) * 1000000) AS BIGINT) AS qi " +
        "FROM embeddings, range(64) t(i)), " +
        "c0 AS (" + init + "), " +
        assign("c0", "d0", "a0") + ", " +
        update("a0", "c0", "c1") + ", " +
        assign("c1", "d1", "a1") + ", " +
        update("a1", "c1", "c2") + ", " +
        assign("c2", "d2t", "a2") + ", " +
        "st AS (SELECT cell, COUNT(*) AS n_members, CAST(SUM(d2) AS BIGINT) AS inertia FROM a2 GROUP BY 1) " +
        "SELECT c2.c AS cell, c2.i AS dim_idx, CAST(c2.p AS BIGINT) AS c_ppm, " +
        "CAST(COALESCE(st.n_members, 0) AS BIGINT) AS n_members, " +
        "CAST(COALESCE(st.inertia, 0) AS BIGINT) AS inertia " +
        "FROM c2 LEFT JOIN st ON st.cell = c2.c"
    }
    // exact top-20 frequent trigrams — shared by t15 (plain groupBy) and
    // t21 (CMS-gated), whose outputs are provably identical
    val freqNgramOracle =
      s"WITH f AS (SELECT $w AS w FROM documents WHERE length(text) >= 1), " +
        "g AS (SELECT unnest(list_transform(range(len(w) - 2), " +
        "i -> array_to_string(w[i+1:i+3], ' '))) AS ngram FROM f WHERE len(w) >= 3), " +
        "c AS (SELECT ngram, count(*) AS cnt FROM g GROUP BY 1 HAVING count(*) >= 2) " +
        "SELECT ngram, CAST(cnt AS BIGINT) AS cnt, CAST(rk AS INT) AS rk FROM (" +
        "SELECT ngram, cnt, row_number() OVER (ORDER BY cnt DESC, ngram) AS rk FROM c) " +
        "WHERE rk <= 20"
    Map(
      "d1_dedup_exact" ->
        ("SELECT md5(text) AS h, CAST(count(*) AS BIGINT) AS n_copies, " +
          "min(doc_id) AS keeper FROM documents GROUP BY 1"),
      // d25 oracle: the same rolling polynomial — exact integer
      // arithmetic (cp·31^k sums, no wraparound), cut at H%64==63 for
      // 1-based positions in [4, len-1], chunks = consecutive slices,
      // df = distinct docs per chunk md5. A MATCH proves both engines
      // carry the same cut grid AND the same chunk bytes.
      "d25_cdc_chunks" ->
        ("WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1), " +
          "b AS (SELECT doc_id, text, n, [0] || list_filter(range(4, n), i -> " +
          "(ascii(text[i-3:i-3])*29791 + ascii(text[i-2:i-2])*961 + ascii(text[i-1:i-1])*31 + ascii(text[i:i])) % 64 = 63) || [n] AS bs FROM d), " +
          "c AS (SELECT doc_id, CAST(k - 1 AS INT) AS chunk_idx, " +
          "text[bs[k]+1 : bs[k+1]] AS chunk FROM b, unnest(range(1, len(bs))) AS u(k)), " +
          "r AS (SELECT doc_id, chunk_idx, CAST(length(chunk) AS INT) AS chunk_len, md5(chunk) AS chunk_md5 FROM c), " +
          "f AS (SELECT chunk_md5, CAST(count(DISTINCT doc_id) AS BIGINT) AS df FROM r GROUP BY 1) " +
          "SELECT doc_id, chunk_idx, chunk_len, chunk_md5, df FROM r JOIN f USING (chunk_md5)"),
      "d2_dedup_minhash_lsh" ->
        (minhashBands + " SELECT a, b FROM pairs"),
      "d3_dedup_simhash" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE len($w) >= 1), " +
          "hs AS (SELECT doc_id, list_transform(w, x -> ('0x' || substr(md5(x),1,15))::BIGINT) AS h FROM f) " +
          "SELECT doc_id, CAST(list_sum(list_transform(range(60), j -> " +
          "CASE WHEN list_sum(list_transform(h, v -> CASE WHEN (v >> j) % 2 = 1 THEN 1 ELSE -1 END)) > 0 " +
          "THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash FROM hs"),
      // d20 oracle: full simhash chain over the simAug corpus, reps =
      // min doc_id per DISTINCT signature, 4x15-bit blocks, bucket cap
      // (2..64, mirroring maxBlockBucket), block equi-join, exact
      // bit_count(xor) Hamming verify — DuckDB's xor() is bitwise (its
      // ^ operator is power), Spark's .bitwiseXOR matches
      "d20_simhash_pairs" ->
        (s"WITH sa AS ($simAugSql), " +
          s"f AS (SELECT doc_id, $w AS w FROM sa WHERE len($w) >= 1), " +
          "hs AS (SELECT doc_id, list_transform(w, x -> ('0x' || substr(md5(x),1,15))::BIGINT) AS h FROM f), " +
          "sg AS (SELECT doc_id, CAST(list_sum(list_transform(range(60), j -> " +
          "CASE WHEN list_sum(list_transform(h, v -> CASE WHEN (v >> j) % 2 = 1 THEN 1 ELSE -1 END)) > 0 " +
          "THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS simhash FROM hs), " +
          "r AS (SELECT simhash, min(doc_id) AS rep FROM sg GROUP BY 1), " +
          "bl AS (SELECT rep, simhash, t.blk, (simhash >> (blk * 15)) % 32768 AS bv FROM r, range(4) t(blk)), " +
          "bc AS (SELECT blk, bv FROM bl GROUP BY blk, bv HAVING count(*) BETWEEN 2 AND 64), " +
          "gb AS (SELECT b.rep, b.simhash, b.blk, b.bv FROM bl b JOIN bc USING (blk, bv)) " +
          "SELECT DISTINCT x.rep AS a, y.rep AS b, " +
          "CAST(bit_count(xor(x.simhash, y.simhash)) AS INT) AS hamming " +
          "FROM gb x JOIN gb y ON x.blk = y.blk AND x.bv = y.bv AND x.rep < y.rep " +
          "WHERE bit_count(xor(x.simhash, y.simhash)) <= 3"),
      // d23 oracle: the same exact rational arithmetic — every term has
      // denominator 10^12, so longs carry it exactly in both engines
      "d23_lsh_curve" ->
        ("SELECT CAST(j * 100000 AS BIGINT) AS jaccard_ppm, " +
          "CAST((1000000000000 - (1000 - j*j*j)*(1000 - j*j*j)*(1000 - j*j*j)*(1000 - j*j*j)) // 1000000 AS BIGINT) AS p_candidate_ppm " +
          "FROM range(1, 10) t(j)"),
      // e38 oracle: same template collapse in SQL — trap families count
      // one url per doc, page families one per (host, page-slot) doc set
      // e64 oracle: family arithmetic — alt_chars re-derived from the
      // literal alt strings ('Photo of item N' = 14 + digits,
      // 'chart N' = 6 + digits, 'banner' = 6); the script-string decoy
      // family contributes exactly ONE image, pinning RAWTEXT skipping
      "e64_alt_coverage" ->
        ("WITH c AS (SELECT doc_id, doc_id % 5 AS f, " +
          "length((doc_id % 7)::VARCHAR) AS d7, " +
          "length((doc_id % 11)::VARCHAR) AS d11 FROM documents) " +
          "SELECT doc_id, n_imgs, n_with_alt, n_missing_alt, n_decorative, alt_chars FROM ( " +
          "SELECT doc_id, 2 AS n_imgs, 2 AS n_with_alt, 0 AS n_missing_alt, " +
          "1 AS n_decorative, CAST(14 + d7 AS BIGINT) AS alt_chars FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 1, 0, 1, 0, 0 FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 1, 1, 0, 0, CAST(6 + d11 AS BIGINT) FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 0, 0, 0, 0, 0 FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 1, 1, 0, 0, 6 FROM c WHERE f = 4)"),
      // e63 oracle: the effective-policy truth table re-derived
      // arithmetically — path family %4 (p0 blocked, p1 rescued by the
      // longer Allow rule, p2/p3 unruled default-allow), meta family %3
      // (uppercase NOINDEX / the none alias / index,follow) — a MATCH
      // pins both parsers AND the longest-prefix decision rule
      "e63_policy_reconcile" ->
        ("WITH c AS (SELECT doc_id, doc_id % 4 AS pf, doc_id % 3 AS mf FROM documents), " +
          "d AS (SELECT doc_id, '/p' || pf || '/doc' || doc_id AS path, " +
          "pf <> 0 AS fetch_allowed, mf IN (0, 1) AS meta_noindex FROM c) " +
          "SELECT doc_id, path, fetch_allowed, meta_noindex, " +
          "CASE WHEN NOT fetch_allowed AND meta_noindex THEN 'blocked_hidden_noindex' " +
          "WHEN NOT fetch_allowed THEN 'blocked' " +
          "WHEN meta_noindex THEN 'crawl_noindex' ELSE 'indexable' END AS verdict FROM d"),
      // e62 oracle: same url synthesis, query-string split, ''-not-NULL
      // values, (host,param) distinct-value rollup, and the ladder with
      // tracking-before-cardinality precedence (sid would otherwise
      // profile as a trap — the fix differs, so the verdict must)
      "e62_param_profile" ->
        ("WITH u AS (SELECT CASE " +
          "WHEN doc_id % 4 = 0 THEN 'https://site' || (doc_id % 5) || '.example.com/a/' || doc_id " +
          "WHEN doc_id % 4 = 1 THEN 'https://site' || (doc_id % 5) || '.example.com/a/' || (doc_id % 50) || " +
          "'?utm_source=s' || (doc_id % 3) || '&utm_campaign=c' || (doc_id % 7) || '#sec' " +
          "WHEN doc_id % 4 = 2 THEN 'https://site' || (doc_id % 5) || '.example.com/list?color=c' || (doc_id % 29) || " +
          "'&size=s' || (doc_id % 2) || '&view=grid' " +
          "ELSE 'https://site' || (doc_id % 5) || '.example.com/p/' || (doc_id % 20) || '?sid=tok=' || doc_id END AS url " +
          "FROM documents), " +
          // fragment stripped ([^#]*) and limit-2 '=' semantics (value
          // keeps embedded '='; regexp_extract yields '' when no '='),
          // matching the Spark side exactly
          "q AS (SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host, " +
          "regexp_extract(url, '\\?([^#]*)', 1) AS qs FROM u), " +
          "p AS (SELECT host, unnest(string_split(qs, '&')) AS kv FROM q WHERE qs <> ''), " +
          "k AS (SELECT host, regexp_extract(kv, '^([^=]*)', 1) AS param, " +
          "regexp_extract(kv, '=(.*)$', 1) AS value FROM p), " +
          "g AS (SELECT host, param, count(*) AS nu, count(DISTINCT value) AS nv FROM k GROUP BY 1, 2) " +
          "SELECT host, param, CAST(nu AS BIGINT) AS n_urls, CAST(nv AS BIGINT) AS n_values, " +
          "CASE WHEN starts_with(param, 'utm_') OR param IN ('sid','gclid','fbclid','sessionid') THEN 'tracking' " +
          "WHEN nv >= 16 THEN 'facet_trap' WHEN nv >= 2 THEN 'facet' ELSE 'constant' END AS verdict FROM g"),
      "e38_trap_detection" ->
        ("WITH u AS (SELECT doc_id, CASE WHEN doc_id % 2 = 0 THEN " +
          "'https://trap' || (doc_id % 3) || '.example.com/cal/2026/' || doc_id " +
          "ELSE 'https://ok' || (doc_id % 7) || '.example.com/page/' || (doc_id % 5) END AS url " +
          "FROM documents), " +
          "t AS (SELECT regexp_extract(url, 'https?://([^/]+)', 1) AS host, " +
          "regexp_replace(regexp_extract(url, 'https?://[^/]+(/.*)?$', 1), '[0-9]+', 'N', 'g') AS template FROM u) " +
          "SELECT host, template, count(*) AS n_urls, count(*) >= 50 AS trap " +
          "FROM t GROUP BY 1, 2"),
      // e52 oracle: canonical outcomes per e35-style family (first
      // canonical wins in family 3, the comment decoy yields NULL),
      // coalesce-to-self, then the same cluster rollup — a MATCH pins
      // the parser's outcome surviving the aggregation
      "e52_canonical_clusters" ->
        ("WITH p AS (SELECT doc_id, 'https://' || CASE WHEN doc_id % 10 < 3 " +
          "THEN 'big.example.com' ELSE 'h' || (doc_id % 97) || '.example.com' END " +
          "|| '/doc/' || doc_id AS url, " +
          "CASE WHEN doc_id % 5 = 0 THEN 'https://c.example.com/p' || (doc_id % 50) " +
          "WHEN doc_id % 5 = 2 THEN 'https://c.example.com/q' || (doc_id % 7) " +
          "WHEN doc_id % 5 = 3 THEN 'https://first.example.com/a' || (doc_id % 3) END AS canon " +
          "FROM documents), " +
          "t AS (SELECT url, coalesce(canon, url) AS target FROM p) " +
          "SELECT target, CAST(count(*) AS BIGINT) AS n_pages, " +
          "CAST(count(DISTINCT regexp_extract(url, 'https?://([^/]+)', 1)) AS BIGINT) AS n_src_hosts, " +
          "CAST(sum(CASE WHEN regexp_extract(url, 'https?://([^/]+)', 1) <> " +
          "regexp_extract(target, 'https?://([^/]+)', 1) THEN 1 ELSE 0 END) AS BIGINT) AS n_cross_host, " +
          "min(url) AS rep_url FROM t GROUP BY 1"),
      // e51 oracle: same edge synthesis, same three doubling rounds
      // unrolled as CTEs (the e48 pattern) — state (ptr, d, done) per
      // round, then the tail/dist projection and tail-keyed length
      // rollup; a MATCH pins the doubling recurrence itself
      "e51_pagination_chains" -> {
        val u = "'https://s' || ((doc_id // 8) % 13) || '.example.com/a/' || (doc_id // 8) || '?page='"
        val round = (a: String, b: String) =>
          s"SELECT a.url, CASE WHEN a.done THEN a.ptr ELSE b.ptr END AS ptr, " +
            s"CASE WHEN a.done THEN a.d ELSE a.d + b.d END AS d, " +
            s"(a.done OR b.done) AS done FROM $a a JOIN $b b ON a.ptr = b.url"
        s"WITH e0 AS (SELECT DISTINCT url, next_url FROM (" +
          s"SELECT $u || (doc_id % 8) AS url, $u || ((doc_id + 1) % 8) AS next_url " +
          "FROM documents WHERE doc_id % 8 < 7 " +
          s"UNION ALL SELECT $u || (doc_id % 8), $u || 0 FROM documents " +
          "WHERE doc_id % 8 = 7 AND (doc_id // 8) % 7 = 2) WHERE url <> next_url), " +
          "nodes AS (SELECT DISTINCT u FROM (SELECT url AS u FROM e0 " +
          "UNION ALL SELECT next_url FROM e0)), " +
          "s0 AS (SELECT u AS url, coalesce(e0.next_url, u) AS ptr, " +
          "CASE WHEN e0.next_url IS NULL THEN 0 ELSE 1 END AS d, " +
          "e0.next_url IS NULL AS done FROM nodes LEFT JOIN e0 ON e0.url = nodes.u), " +
          s"s1 AS MATERIALIZED (${round("s0", "s0")}), " +
          s"s2 AS MATERIALIZED (${round("s1", "s1")}), " +
          s"s3 AS MATERIALIZED (${round("s2", "s2")}), " +
          "r AS (SELECT url, CASE WHEN done THEN ptr END AS tail, " +
          "CASE WHEN done THEN d END AS dist FROM s3), " +
          "l AS (SELECT tail AS t, max(dist) + 1 AS cl FROM r WHERE tail IS NOT NULL GROUP BY 1) " +
          "SELECT r.url, r.tail, CAST(r.dist AS INT) AS dist_to_tail, " +
          "CAST(l.cl AS INT) AS chain_len FROM r LEFT JOIN l ON r.tail = l.t"
      },
      // e50 oracle: same synthesized fetch log; phrase hits via the
      // replace-count (non-overlapping, the same convention as Spark's
      // split-count), words via the shared whitespace class, verdict
      // CASE mirroring the hard>soft>ok precedence and both thresholds
      "e50_soft404" -> {
        val ph = Seq("page not found", "404 error", "does not exist",
          "no longer available", "temporarily unavailable")
          .map(p => s"(length(lower(body)) - length(replace(lower(body), '$p', ''))) // ${p.length}")
          .mkString(" + ")
        "WITH p AS (SELECT doc_id, " +
          "'https://' || CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END || '/doc/' || doc_id AS url, " +
          "CASE WHEN doc_id % 7 = 0 THEN 404 WHEN doc_id % 7 = 1 THEN 410 ELSE 200 END AS st, " +
          "CASE WHEN doc_id % 5 = 3 THEN 'Oops! The page you requested does not exist. Error 404 error. Try the search box.' " +
          "WHEN doc_id % 5 = 4 THEN 'Sorry, this article is no longer available. ' || text " +
          "ELSE text END AS body FROM documents), " +
          "c AS (SELECT url, st, CASE WHEN trim(body) = '' THEN 0 " +
          "ELSE len(regexp_split_to_array(trim(body), '[ \\t\\n\\r\\f\\x0B]+')) END AS nw, " +
          s"$ph AS phits FROM p) " +
          "SELECT url, CAST(st AS INT) AS http_status, CAST(nw AS INT) AS n_words, " +
          "CAST(phits AS INT) AS phrase_hits, " +
          "CASE WHEN st >= 400 THEN 'hard_error' " +
          "WHEN phits > 0 AND nw < 50 THEN 'soft_404' ELSE 'ok' END AS verdict FROM c"
      },
      // d22 oracle: the shared minhashBands CTEs (sig has the 12-slot g
      // list, sh the shingle sets), agreement + exact Jaccard in ppm
      // d36 oracle: the same design grid (divisors of 24 x the 5..95
      // Jaccard grid) with the same LEFT-FOLD products via list_reduce
      // — identical fold order over identical doubles is bit-exact
      // where pow() would drift in the last ulp
      "d36_lsh_planner" ->
        ("WITH rs AS (SELECT unnest([1, 2, 3, 4, 6, 8, 12, 24]) AS r), " +
          "js AS (SELECT 5 * (1 + unnest(range(19))) AS j), " +
          "g AS (SELECT r, 24 // r AS b, j FROM rs, js) " +
          "SELECT CAST(r AS INT) AS r, CAST(b AS INT) AS b, CAST(j AS INT) AS j_pct, " +
          "CAST(floor(1000000 * (1 - list_reduce(list_transform(range(b), x -> " +
          "1 - list_reduce(list_transform(range(r), y -> j / 100.0), (a, z) -> a * z)), " +
          "(a, z) -> a * z))) AS BIGINT) AS p_ppm FROM g"),
      // d35 oracle: last-hex-nibble agreement per component, the
      // (r - 2^-b)/(1 - 2^-b) correction in exact ppm with the 0
      // clamp (which also absorbs the floor-vs-truncate division
      // difference on the negative branch), exact Jaccard alongside
      "d35_bbit_minhash" ->
        (minhashBands + ", bb AS (SELECT p.a, p.b, " +
          "len(list_filter(range(12), i -> substr(ga.g[CAST(i+1 AS INT)], 32, 1) = " +
          "substr(gb.g[CAST(i+1 AS INT)], 32, 1))) AS nc, " +
          "(1000000 * len(list_intersect(sa.s, sb.s))) // len(list_distinct(sa.s || sb.s)) AS jp " +
          "FROM pairs p JOIN sig ga ON ga.doc_id = p.a JOIN sig gb ON gb.doc_id = p.b " +
          "JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b), " +
          "c2 AS (SELECT a, b, nc, (1000000 * nc) // 12 AS rp, jp FROM bb) " +
          "SELECT a, b, CAST(nc AS BIGINT) AS n_coll, CAST(rp AS BIGINT) AS raw_ppm, " +
          "CAST(greatest(0, ((rp - 62500) * 16) // 15) AS BIGINT) AS est_ppm, " +
          "CAST(jp AS BIGINT) AS jaccard_ppm, " +
          "CAST(abs(greatest(0, ((rp - 62500) * 16) // 15) - jp) AS BIGINT) AS abs_err_ppm FROM c2"),
      "d22_minhash_calibration" ->
        (minhashBands + " SELECT p.a, p.b, " +
          "CAST((1000000 * len(list_filter(range(12), i -> ga.g[CAST(i+1 AS INT)] = gb.g[CAST(i+1 AS INT)]))) // 12 AS BIGINT) AS est_ppm, " +
          "CAST((1000000 * len(list_intersect(sa.s, sb.s))) // len(list_distinct(sa.s || sb.s)) AS BIGINT) AS jaccard_ppm, " +
          "CAST(abs((1000000 * len(list_filter(range(12), i -> ga.g[CAST(i+1 AS INT)] = gb.g[CAST(i+1 AS INT)]))) // 12 - " +
          "(1000000 * len(list_intersect(sa.s, sb.s))) // len(list_distinct(sa.s || sb.s))) AS BIGINT) AS abs_err_ppm " +
          "FROM pairs p JOIN sig ga ON ga.doc_id = p.a JOIN sig gb ON gb.doc_id = p.b " +
          "JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b"),
      // e59 oracle: same augmentation (intra-host %101 rule wins over
      // %5), md5 clustering, min-keeper/min-host conventions, and the
      // n_hosts >= 2 verdict split; singletons excluded
      "e59_mirror_clusters" ->
        ("WITH h AS (SELECT doc_id, " +
          "CASE WHEN doc_id % 101 = 9 THEN 'h7.example.com' " +
          "WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END AS host, " +
          "CASE WHEN doc_id % 101 = 9 THEN 'republished notice' " +
          "WHEN doc_id % 5 = 4 THEN 'canonical page ' || (doc_id % 17) " +
          "ELSE text END AS text FROM documents), " +
          "g AS (SELECT min(doc_id) AS keeper, count(*) AS n_copies, " +
          "count(DISTINCT host) AS n_hosts, min(host) AS canonical_host " +
          "FROM h GROUP BY md5(text)) " +
          "SELECT keeper, CAST(n_copies AS BIGINT) AS n_copies, " +
          "CAST(n_hosts AS BIGINT) AS n_hosts, canonical_host, " +
          "CASE WHEN n_hosts >= 2 THEN 'cross_host' ELSE 'intra_host' END AS verdict " +
          "FROM g WHERE n_copies >= 2"),
      // d32 oracle: mirrors the full containment pipeline — prefix-
      // child augmentation, md5 dedup, rare-shingle inverted index with
      // the [2,8] DF window, distinct pairs, exact containment/Jaccard
      // verify and the duplicate/a_in_b/b_in_a verdict ladder
      "d32_containment" ->
        (s"WITH a0 AS (SELECT doc_id, text FROM documents UNION ALL " +
          "SELECT doc_id + 1000000000 AS doc_id, " +
          "array_to_string(w[1:greatest(3, len(w)//3)], ' ') AS text " +
          s"FROM (SELECT doc_id, $w AS w FROM documents) " +
          "WHERE doc_id % 13 = 2 AND len(w) >= 12), " +
          "r AS (SELECT min(doc_id) AS doc_id, arg_min(text, doc_id) AS text " +
          "FROM a0 GROUP BY md5(text)), " +
          s"f AS (SELECT doc_id, $w AS w FROM r WHERE len($w) >= 3), " +
          s"sh AS (SELECT doc_id, list_distinct($sh3) AS s FROM f), " +
          "ex AS (SELECT doc_id, md5(g) AS hh FROM (SELECT doc_id, unnest(s) AS g FROM sh)), " +
          "rk AS (SELECT hh FROM ex GROUP BY hh HAVING count(*) BETWEEN 2 AND 8), " +
          "rare AS (SELECT e.doc_id, e.hh FROM ex e JOIN rk USING (hh)), " +
          "pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b FROM rare x " +
          "JOIN rare y ON x.hh = y.hh AND x.doc_id < y.doc_id), " +
          "v AS (SELECT p.a, p.b, " +
          "round(len(list_intersect(sa.s, sb.s))::DOUBLE / len(sa.s), 4) AS contain_a, " +
          "round(len(list_intersect(sa.s, sb.s))::DOUBLE / len(sb.s), 4) AS contain_b, " +
          "round(len(list_intersect(sa.s, sb.s))::DOUBLE / len(list_distinct(sa.s || sb.s)), 4) AS jaccard " +
          "FROM pairs p JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b) " +
          "SELECT a, b, contain_a, contain_b, jaccard, " +
          "CASE WHEN jaccard >= 0.8 THEN 'duplicate' " +
          "WHEN contain_a >= contain_b THEN 'a_in_b' ELSE 'b_in_a' END AS verdict " +
          "FROM v WHERE greatest(contain_a, contain_b) >= 0.9"),
      "d4_dedup_jaccard" ->
        (minhashBands + " SELECT a, b, jaccard FROM (SELECT p.a, p.b, " +
          "round(len(list_intersect(sa.s, sb.s))::DOUBLE / len(list_distinct(sa.s || sb.s)), 4) AS jaccard " +
          "FROM pairs p JOIN sh sa ON sa.doc_id = p.a JOIN sh sb ON sb.doc_id = p.b) " +
          "WHERE jaccard >= 0.4"),
      // d27 oracle: FULL unbanded levenshtein with the cap applied
      // afterwards — a hash match against Spark's banded threshold
      // kernel proves band-exactness below k and identical cap firing
      "d27_edit_verify" ->
        (minhashBands + ", lv AS (SELECT p.a, p.b, " +
          "length(da.text) AS la, length(db.text) AS lb, " +
          "levenshtein(da.text, db.text) AS d " +
          "FROM pairs p JOIN documents da ON da.doc_id = p.a " +
          "JOIN documents db ON db.doc_id = p.b) " +
          "SELECT a, b, CAST(la AS INT) AS len_a, CAST(lb AS INT) AS len_b, " +
          "CAST(CASE WHEN d > 5 THEN 6 ELSE d END AS INT) AS edit_capped, " +
          "d <= 5 AS within, " +
          "CASE WHEN d <= 5 AND greatest(la, lb) > 0 THEN " +
          "CAST((1000000 * (greatest(la, lb) - d)) // greatest(la, lb) AS BIGINT) END AS sim_ppm " +
          "FROM lv"),
      // fuzzy-decontamination oracle: mirrors the two-table banded-LSH
      // containment pipeline over the fuzzyAug corpus — same shingles,
      // same 12-minhash/4-band signatures, candidate join, 0.6-Jaccard
      // verify, rep->clone expansion by md5(text)
      "d15_fuzzy_decontaminate" ->
        (s"WITH a AS ($fuzzyAugSql), " +
          "t AS (SELECT doc_id, text FROM a WHERE doc_id % 61 <> 7), " +
          "e AS (SELECT doc_id, text FROM a WHERE doc_id % 61 = 7), " +
          "tr AS (SELECT md5(text) AS th, min(doc_id) AS rep, arg_min(text, doc_id) AS text FROM t GROUP BY 1), " +
          "er AS (SELECT min(doc_id) AS e_id, arg_min(text, doc_id) AS text FROM e GROUP BY md5(text)), " +
          s"tsh AS (SELECT rep, list_distinct($sh3) AS st FROM (SELECT rep, $w AS w FROM tr) WHERE len(w) >= 3), " +
          s"esh AS (SELECT e_id, list_distinct($sh3) AS se FROM (SELECT e_id, $w AS w FROM er) WHERE len(w) >= 3), " +
          "tsig AS (SELECT rep, list_transform(range(12), k -> list_min(list_transform(st, x -> md5(k || ':' || x)))) AS g FROM tsh), " +
          "esig AS (SELECT e_id, list_transform(range(12), k -> list_min(list_transform(se, x -> md5(k || ':' || x)))) AS g FROM esh), " +
          "tband AS (SELECT rep, t.bd, md5(g[bd*3+1] || '|' || g[bd*3+2] || '|' || g[bd*3+3]) AS bv FROM tsig, range(4) t(bd)), " +
          "eband AS (SELECT e_id, t.bd, md5(g[bd*3+1] || '|' || g[bd*3+2] || '|' || g[bd*3+3]) AS bv FROM esig, range(4) t(bd)), " +
          "cand AS (SELECT DISTINCT tb.rep, eb.e_id FROM tband tb JOIN eband eb ON tb.bd = eb.bd AND tb.bv = eb.bv), " +
          "ver AS (SELECT c.rep, round(len(list_intersect(ts.st, es.se))::DOUBLE / len(list_distinct(ts.st || es.se)), 4) AS j " +
          "FROM cand c JOIN tsh ts ON ts.rep = c.rep JOIN esh es ON es.e_id = c.e_id), " +
          "hits AS (SELECT rep, count(*) AS n, max(j) AS mj FROM ver WHERE j >= 0.6 GROUP BY rep) " +
          "SELECT d.doc_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_eval_hits, " +
          "coalesce(h.mj, 0.0) AS max_jaccard, coalesce(h.n, 0) > 0 AS contaminated " +
          "FROM (SELECT doc_id, md5(text) AS th FROM t) d JOIN tr USING (th) LEFT JOIN hits h ON h.rep = tr.rep"),
      // cluster resolution: transitive closure over the verified-pair
      // graph (reach = recursive reachability from each rep; cluster =
      // min reachable id), expanded through the exact-dup groups
      "d10_dup_clusters" -> d10Sql,
      // d24 oracle: the full d10 recursive-closure SQL as a nested CTE,
      // joined to the t2 quality formula, argmax via row_number (quality
      // DESC, doc_id ASC = the struct-min tie-break on the Spark side)
      "d24_cluster_reps" ->
        (s"WITH c AS ($d10Sql), " +
          s"qf AS (SELECT doc_id, $w AS w, text FROM documents WHERE length(text) >= 1), " +
          "qb AS (SELECT doc_id, length(text) AS n_chars, len(w) AS n_words, " +
          "length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit, " +
          "length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct FROM qf), " +
          "qd AS (SELECT doc_id, round(least(1.0::DOUBLE, n_words::DOUBLE / 100.0::DOUBLE) * " +
          "(1.0::DOUBLE - n_digit::DOUBLE / n_chars) * " +
          "(1.0::DOUBLE - least(1.0::DOUBLE, 5.0::DOUBLE * n_punct::DOUBLE / n_chars)), 4) AS quality FROM qb), " +
          "j AS (SELECT c.cluster_id, c.cluster_size, c.doc_id, " +
          "coalesce(qd.quality, 0.0) AS quality FROM c LEFT JOIN qd USING (doc_id)), " +
          "rr AS (SELECT *, row_number() OVER (PARTITION BY cluster_id " +
          "ORDER BY quality DESC, doc_id) AS rk FROM j) " +
          "SELECT cluster_id, doc_id AS rep_id, cluster_size, quality AS rep_quality, " +
          "CAST(cluster_size - 1 AS BIGINT) AS n_removed FROM rr WHERE rk = 1"),
      // d21 oracle: the d5 truth CTEs and the d9 IVF CTEs composed, then
      // a per-probe hit count + integer recall ppm
      "d21_ann_recall" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "p AS (SELECT vec_id AS q_id, v AS q FROM e WHERE vec_id % 50 = 0), " +
          "s AS (SELECT q_id, vec_id, round(" +
          "list_sum(list_transform(range(len(q)), i -> q[i+1]*v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(q)), i -> q[i+1]*q[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(v)), i -> v[i+1]*v[i+1])))), 6) AS score " +
          "FROM e, p WHERE vec_id <> q_id), " +
          "r AS (SELECT q_id, vec_id, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk FROM s), " +
          "tt AS (SELECT q_id, vec_id FROM r WHERE rk <= 5), " +
          "cells AS (SELECT vec_id, v, CAST(list_min(list_transform(range(16), j -> " +
          "[list_sum(list_transform(range(len(v)), i -> " +
          "((('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1]) * " +
          "(('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1])))), " +
          "j::DOUBLE]))[2] AS INT) AS cell FROM e), " +
          "p2 AS (SELECT vec_id AS q_id, v AS q, cell FROM cells WHERE vec_id % 50 = 0), " +
          "s2 AS (SELECT p2.q_id, c.vec_id, round(" +
          "list_sum(list_transform(range(len(p2.q)), i -> p2.q[i+1]*c.v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(p2.q)), i -> p2.q[i+1]*p2.q[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(c.v)), i -> c.v[i+1]*c.v[i+1])))), 6) AS score " +
          "FROM cells c JOIN p2 ON c.cell = p2.cell AND c.vec_id <> p2.q_id), " +
          "r2 AS (SELECT q_id, vec_id, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk FROM s2), " +
          "aa AS (SELECT q_id, vec_id FROM r2 WHERE rk <= 5), " +
          "h AS (SELECT t.q_id, count(*) AS n_hits FROM tt t JOIN aa a " +
          "ON a.q_id = t.q_id AND a.vec_id = t.vec_id GROUP BY 1), " +
          "n AS (SELECT q_id, count(*) AS n_truth FROM tt GROUP BY 1) " +
          "SELECT n.q_id, CAST(n.n_truth AS INT) AS n_truth, " +
          "CAST(coalesce(h.n_hits, 0) AS INT) AS n_hits, " +
          "CAST((1000000 * coalesce(h.n_hits, 0)) // n.n_truth AS BIGINT) AS recall_ppm " +
          "FROM n LEFT JOIN h USING (q_id)"),
      "d5_ann_cosine_topk" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "p AS (SELECT vec_id AS q_id, v AS q FROM e WHERE vec_id % 50 = 0), " +
          "s AS (SELECT q_id, vec_id, round(" +
          "list_sum(list_transform(range(len(q)), i -> q[i+1]*v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(q)), i -> q[i+1]*q[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(v)), i -> v[i+1]*v[i+1])))), 6) AS score " +
          "FROM e, p WHERE vec_id <> q_id), " +
          "r AS (SELECT q_id, vec_id, score, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk FROM s) " +
          "SELECT q_id, CAST(rk AS INT) AS rank, vec_id, score FROM r WHERE rk <= 5"),
      // mutual-kNN oracle: the same round-6 cosine ranks restricted to
      // the seed subset, reciprocity via a both-directions self-join
      "d37_mutual_knn" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 = 0), " +
          "s AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id, round(" +
          "list_sum(list_transform(range(len(a.v)), i -> a.v[i+1]*b.v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1]*a.v[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(b.v)), i -> b.v[i+1]*b.v[i+1])))), 6) AS score " +
          "FROM e a JOIN e b ON a.vec_id <> b.vec_id), " +
          "r AS (SELECT q_id, vec_id, score, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk FROM s WHERE TRUE " +
          "QUALIFY rk <= 3) " +
          "SELECT f.q_id AS a, f.vec_id AS b, f.score, CAST(f.rk AS INT) AS rank_ab, " +
          "CAST(g.rk AS INT) AS rank_ba " +
          "FROM r f JOIN r g ON f.q_id = g.vec_id AND f.vec_id = g.q_id " +
          "WHERE f.q_id < f.vec_id"),
      // d38 oracle: the d37 mutual edges fed through the e48 4-round
      // hash-min unroll, numeric labels; isolated seeds (no mutual
      // edge) are absent on both sides by the same nodes-from-edges rule
      "d38_knn_components" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings WHERE vec_id % 50 = 0), " +
          "s AS (SELECT a.vec_id AS q_id, b.vec_id AS vec_id, round(" +
          "list_sum(list_transform(range(len(a.v)), i -> a.v[i+1]*b.v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(a.v)), i -> a.v[i+1]*a.v[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(b.v)), i -> b.v[i+1]*b.v[i+1])))), 6) AS score " +
          "FROM e a JOIN e b ON a.vec_id <> b.vec_id), " +
          "r AS (SELECT q_id, vec_id, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk FROM s WHERE TRUE QUALIFY rk <= 3), " +
          "m AS (SELECT f.q_id AS a, f.vec_id AS b FROM r f " +
          "JOIN r g ON f.q_id = g.vec_id AND f.vec_id = g.q_id WHERE f.q_id < f.vec_id), " +
          "eg AS MATERIALIZED (SELECT DISTINCT src, dst FROM " +
          "(SELECT a AS src, b AS dst FROM m UNION ALL SELECT b, a FROM m) WHERE src <> dst), " +
          "nodes AS (SELECT DISTINCT v FROM (SELECT a AS v FROM m UNION ALL SELECT b FROM m)), " +
          "l0 AS MATERIALIZED (SELECT v AS host, v AS c FROM nodes), " +
          "l1 AS MATERIALIZED (SELECT host, min(c) AS c FROM (SELECT host, c FROM l0 " +
          "UNION ALL SELECT eg.dst, l0.c FROM eg JOIN l0 ON eg.src = l0.host) GROUP BY 1), " +
          "l2 AS MATERIALIZED (SELECT host, min(c) AS c FROM (SELECT host, c FROM l1 " +
          "UNION ALL SELECT eg.dst, l1.c FROM eg JOIN l1 ON eg.src = l1.host) GROUP BY 1), " +
          "l3 AS MATERIALIZED (SELECT host, min(c) AS c FROM (SELECT host, c FROM l2 " +
          "UNION ALL SELECT eg.dst, l2.c FROM eg JOIN l2 ON eg.src = l2.host) GROUP BY 1), " +
          "l4 AS MATERIALIZED (SELECT host, min(c) AS c FROM (SELECT host, c FROM l3 " +
          "UNION ALL SELECT eg.dst, l3.c FROM eg JOIN l3 ON eg.src = l3.host) GROUP BY 1), " +
          "sz AS (SELECT c, count(*) AS n FROM l4 GROUP BY 1) " +
          "SELECT l4.host AS vec_id, l4.c AS comp, CAST(sz.n AS BIGINT) AS comp_size " +
          "FROM l4 JOIN sz ON l4.c = sz.c"),
      // the scalable per-partition-heap variant must produce the exact
      // same rows as the brute-force baseline — same oracle
      "d7_ann_topk_scalable" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "p AS (SELECT vec_id AS q_id, v AS q FROM e WHERE vec_id % 50 = 0), " +
          "s AS (SELECT q_id, vec_id, round(" +
          "list_sum(list_transform(range(len(q)), i -> q[i+1]*v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(q)), i -> q[i+1]*q[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(v)), i -> v[i+1]*v[i+1])))), 6) AS score " +
          "FROM e, p WHERE vec_id <> q_id), " +
          "r AS (SELECT q_id, vec_id, score, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk FROM s) " +
          "SELECT q_id, CAST(rk AS INT) AS rank, vec_id, score FROM r WHERE rk <= 5"),
      // PQ-encode oracle: same md5 'pq:' codebooks, same per-subspace
      // dist² left-fold, same [dist2, j] argmin tie rule, same error sum
      "d16_pq_codes" -> {
        def pair(mm: Int): String = {
          val c = s"((('0x' || substr(md5('pq:$mm:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0)"
          val d = s"$c - v[${mm * 16}+i+1])"
          "list_min(list_transform(range(16), j -> " +
            s"[list_sum(list_transform(range(16), i -> ($d) * ($d))), j::DOUBLE]))"
        }
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "p AS (SELECT vec_id, " +
          (0 until 4).map(mm => s"${pair(mm)} AS p$mm").mkString(", ") + " FROM e) " +
          "SELECT vec_id, " +
          (0 until 4).map(mm => s"CAST(p$mm[2] AS INT) AS code$mm").mkString(", ") +
          ", round(" + (0 until 4).map(mm => s"p$mm[1]").mkString(" + ") +
          ", 6) AS err FROM p"
      },
      // ADC oracle: the d16 code CTE + centroid-of-code distance (the
      // centroid value re-derived from the code column inside the md5
      // formula — no codebook materialization needed in SQL)
      "d17_adc_topk" -> {
        def pair(mm: Int): String = {
          val c = s"((('0x' || substr(md5('pq:$mm:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0)"
          val d = s"$c - v[${mm * 16}+i+1])"
          "list_min(list_transform(range(16), j -> " +
            s"[list_sum(list_transform(range(16), i -> ($d) * ($d))), j::DOUBLE]))"
        }
        def adc(mm: Int): String = {
          val c = s"((('0x' || substr(md5('pq:$mm:' || c.code$mm || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0)"
          val d = s"$c - p.q[${mm * 16}+i+1])"
          s"list_sum(list_transform(range(16), i -> ($d) * ($d)))"
        }
        "WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "pc AS (SELECT vec_id, " +
          (0 until 4).map(mm => s"${pair(mm)} AS p$mm").mkString(", ") + " FROM e), " +
          "c AS (SELECT vec_id, " +
          (0 until 4).map(mm => s"CAST(p$mm[2] AS INT) AS code$mm").mkString(", ") + " FROM pc), " +
          "p AS (SELECT vec_id AS q_id, v AS q FROM e WHERE vec_id % 50 = 0), " +
          "s AS (SELECT p.q_id, c.vec_id, round(" +
          (0 until 4).map(adc).mkString(" + ") + ", 6) AS adc " +
          "FROM p, c WHERE c.vec_id <> p.q_id), " +
          "r AS (SELECT q_id, vec_id, adc, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY adc, vec_id) AS rk FROM s) " +
          "SELECT q_id, CAST(rk AS INT) AS rank, vec_id, adc FROM r WHERE rk <= 5"
      },
      // substring-dup oracle: same spanAug, same stride-1 md5 windows,
      // same cross-doc (distinct docs >= 2) dup rule and integer ppm
      "d18_substring_dup" ->
        (s"WITH a AS ($spanAugSql), " +
          s"b AS (SELECT doc_id, $w AS w FROM a), " +
          "win AS (SELECT doc_id, unnest(list_transform(range(len(w) - 7), " +
          "i -> md5(array_to_string(w[i+1:i+8], ' ')))) AS h FROM b WHERE len(w) >= 8), " +
          "dup AS (SELECT h FROM win GROUP BY h HAVING count(DISTINCT doc_id) >= 2), " +
          "pd AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dup FROM win JOIN dup USING (h) GROUP BY doc_id) " +
          "SELECT b.doc_id, CAST(greatest(len(b.w) - 7, 0) AS INT) AS n_windows, " +
          "coalesce(pd.n_dup, 0) AS n_dup, " +
          "CASE WHEN len(b.w) >= 8 THEN (1000000 * coalesce(pd.n_dup, 0)) // (len(b.w) - 7) ELSE CAST(0 AS BIGINT) END AS dup_ppm " +
          "FROM b LEFT JOIN pd USING (doc_id)"),
      // SQ8 oracle: same per-dim min/max, same mirrored float steps
      // (255*(x-mn)/(mx-mn) rounded half-away — args nonnegative, so it
      // equals Spark's HALF_UP), same residual op order, round(,6)
      "d39_sq8_encode" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "s AS (SELECT vec_id, unnest(list_transform(range(len(v)), i -> {'i': i, 'x': v[i+1]})) AS u FROM e), " +
          "x AS (SELECT vec_id, CAST(u.i AS INT) AS dim_idx, u.x AS x FROM s), " +
          "st AS (SELECT dim_idx, min(x) AS mn, max(x) AS mx FROM x GROUP BY 1), " +
          "c AS (SELECT x.vec_id, x.dim_idx, x.x, st.mn, st.mx, " +
          "CASE WHEN st.mx > st.mn THEN CAST(round(255.0 * (x.x - st.mn) / (st.mx - st.mn)) AS INT) " +
          "ELSE 0 END AS code FROM x JOIN st USING (dim_idx)) " +
          "SELECT vec_id, dim_idx, code, " +
          "round(x - (mn + code * (mx - mn) / 255.0), 6) + 0.0 AS err FROM c"),
      // JL random-projection oracle: identical md5 sign planes (the h01
      // convention), identical left-fold dot, round(,6), long format
      "d19_rp_project" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) " +
          "SELECT vec_id, CAST(j AS INT) AS dim_idx, " +
          "round(list_sum(list_transform(range(len(v)), i -> " +
          "(CASE WHEN (('0x' || substr(md5('rp:' || j || ':' || i), 1, 15))::BIGINT / pow(2,59) - 1.0) >= 0 " +
          "THEN 1.0 ELSE -1.0 END) * v[i+1])), 6) AS val " +
          "FROM e CROSS JOIN range(16) t(j)"),
      "d6_ann_lsh_buckets" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings) " +
          "SELECT vec_id, CAST(list_sum(list_transform(range(16), j -> " +
          "CASE WHEN list_sum(list_transform(range(len(v)), i -> " +
          "(('0x' || substr(md5(j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0) * v[i+1])) > 0 " +
          "THEN (1 << j) ELSE 0 END)) AS INT) AS bucket FROM e"),
      "d28_kmeans_train" -> kmeansOracle,
      // d29: the d9 oracle with the probe side expanded to its 3
      // nearest cells (ranked by the same dist2 with the same d2,cell
      // tie order); each vector lives in ONE cell so candidates never
      // duplicate across probed cells
      "d29_ivf_multiprobe" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "cells AS (SELECT vec_id, v, CAST(list_min(list_transform(range(16), j -> " +
          "[list_sum(list_transform(range(len(v)), i -> " +
          "((('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1]) * " +
          "(('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1])))), " +
          "j::DOUBLE]))[2] AS INT) AS cell FROM e), " +
          "pd AS (SELECT e.vec_id AS q_id, e.v AS q, t.j AS cl, " +
          "list_sum(list_transform(range(len(e.v)), i -> " +
          "((('0x' || substr(md5('c:' || t.j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - e.v[i+1]) * " +
          "(('0x' || substr(md5('c:' || t.j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - e.v[i+1])))) AS d2 " +
          "FROM e, range(16) t(j) WHERE e.vec_id % 50 = 0), " +
          "p AS (SELECT q_id, q, CAST(cl AS INT) AS cell FROM " +
          "(SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2, cl) AS rn FROM pd) WHERE rn <= 3), " +
          "s AS (SELECT p.q_id, c.vec_id, round(" +
          "list_sum(list_transform(range(len(p.q)), i -> p.q[i+1]*c.v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(p.q)), i -> p.q[i+1]*p.q[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(c.v)), i -> c.v[i+1]*c.v[i+1])))), 6) AS score " +
          "FROM cells c JOIN p ON c.cell = p.cell AND c.vec_id <> p.q_id), " +
          "r AS (SELECT q_id, vec_id, score, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk FROM s) " +
          "SELECT q_id, CAST(rk AS INT) AS rank, vec_id, score FROM r WHERE rk <= 5"),
      // IVF-cell ANN: nearest-of-16 deterministic centroids (argmin as
      // array_min of [dist2, cell] — identical left-fold arithmetic on
      // both engines), probes search only their own cell
      // d34 oracle: the full sorted (dist, cell) pair list — head is
      // d9's assignment, runner-up gives the margin; same left-fold
      // double arithmetic, floor to ppm
      "d34_ivf_margins" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "s AS (SELECT vec_id, list_sort(list_transform(range(16), j -> " +
          "[list_sum(list_transform(range(len(v)), i -> " +
          "((('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1]) * " +
          "(('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1])))), " +
          "j::DOUBLE])) AS ds FROM e), " +
          "m AS (SELECT vec_id, CAST(ds[1][2] AS INT) AS cell, " +
          "CASE WHEN ds[2][1] > 0 THEN CAST(floor(1000000 * ds[1][1] / ds[2][1]) AS BIGINT) END AS margin_ppm FROM s) " +
          "SELECT vec_id, cell, margin_ppm, " +
          "CASE WHEN margin_ppm IS NULL THEN 'degenerate' " +
          "WHEN margin_ppm < 250000 THEN 'core' " +
          "WHEN margin_ppm >= 750000 THEN 'boundary' " +
          "ELSE 'interior' END AS verdict FROM m"),
      // d33 oracle: d9's exact cell-assignment CTE, per-cell counts
      // over the dense 16-row spine, floor-div ppms and the
      // empty/hot/cold/balanced ladder re-derived in SQL
      "d33_ivf_balance" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "cells AS (SELECT vec_id, CAST(list_min(list_transform(range(16), j -> " +
          "[list_sum(list_transform(range(len(v)), i -> " +
          "((('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1]) * " +
          "(('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1])))), " +
          "j::DOUBLE]))[2] AS INT) AS cell FROM e), " +
          "cc AS (SELECT cell, count(*) AS nv FROM cells GROUP BY 1), " +
          "sp AS (SELECT CAST(range AS INT) AS cell FROM range(16)), " +
          "t AS (SELECT sum(nv) AS tot FROM cc), " +
          "g AS (SELECT sp.cell, coalesce(nv, 0) AS nv, tot FROM sp LEFT JOIN cc USING (cell), t) " +
          "SELECT cell, CAST(nv AS BIGINT) AS n_vectors, " +
          "CAST(1000000 * nv // tot AS BIGINT) AS load_ppm, " +
          "CAST(1000000 * nv * 16 // tot AS BIGINT) AS x_ideal_ppm, " +
          "CASE WHEN nv = 0 THEN 'empty' " +
          "WHEN 1000000 * nv * 16 // tot >= 2000000 THEN 'hot' " +
          "WHEN 1000000 * nv * 16 // tot <= 500000 THEN 'cold' " +
          "ELSE 'balanced' END AS verdict FROM g"),
      "d9_ann_ivf_topk" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "cells AS (SELECT vec_id, v, CAST(list_min(list_transform(range(16), j -> " +
          "[list_sum(list_transform(range(len(v)), i -> " +
          "((('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1]) * " +
          "(('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1])))), " +
          "j::DOUBLE]))[2] AS INT) AS cell FROM e), " +
          "p AS (SELECT vec_id AS q_id, v AS q, cell FROM cells WHERE vec_id % 50 = 0), " +
          "s AS (SELECT p.q_id, c.vec_id, round(" +
          "list_sum(list_transform(range(len(p.q)), i -> p.q[i+1]*c.v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(p.q)), i -> p.q[i+1]*p.q[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(c.v)), i -> c.v[i+1]*c.v[i+1])))), 6) AS score " +
          "FROM cells c JOIN p ON c.cell = p.cell AND c.vec_id <> p.q_id), " +
          "r AS (SELECT q_id, vec_id, score, row_number() OVER " +
          "(PARTITION BY q_id ORDER BY score DESC, vec_id) AS rk FROM s) " +
          "SELECT q_id, CAST(rk AS INT) AS rank, vec_id, score FROM r WHERE rk <= 5"),
      // d30 oracle: the d14 pairwise leg reduced to per-rep max witness
      // cosine (exact pre-pass included), then the 9-tau CDF with the
      // non-rep term folded in
      "d30_semdedup_curve" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "reps AS (SELECT min(vec_id) AS vec_id, v FROM e GROUP BY v), " +
          "cells AS (SELECT vec_id, v, CAST(list_min(list_transform(range(16), j -> " +
          "[list_sum(list_transform(range(len(v)), i -> " +
          "((('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1]) * " +
          "(('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1])))), " +
          "j::DOUBLE]))[2] AS INT) AS cell FROM reps), " +
          "pm AS (SELECT c1.vec_id, max(round(" +
          "list_sum(list_transform(range(len(c1.v)), i -> c1.v[i+1]*c2.v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(c1.v)), i -> c1.v[i+1]*c1.v[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(c2.v)), i -> c2.v[i+1]*c2.v[i+1])))), 6)) AS mc " +
          "FROM cells c1 JOIN cells c2 ON c1.cell = c2.cell AND c2.vec_id < c1.vec_id " +
          "GROUP BY c1.vec_id), " +
          "tot AS (SELECT count(*) AS n_total FROM e), " +
          "nr AS (SELECT count(*) AS n_reps FROM reps), " +
          "g AS (SELECT CAST(t.i * 100000 AS INT) AS tau_ppm FROM range(1, 10) t(i)), " +
          "rd AS (SELECT g.tau_ppm, count(*) AS k FROM g JOIN pm " +
          "ON pm.mc > g.tau_ppm / 1000000.0 GROUP BY 1) " +
          "SELECT g.tau_ppm, CAST(COALESCE(rd.k, 0) + tot.n_total - nr.n_reps AS BIGINT) AS n_dup, " +
          "CAST(tot.n_total AS BIGINT) AS n_docs " +
          "FROM g CROSS JOIN tot CROSS JOIN nr LEFT JOIN rd ON rd.tau_ppm = g.tau_ppm"),
      // SemDeDup oracle: the d9 cell assignment verbatim, then a
      // within-cell lower-id pairwise exists at rounded cosine > tau —
      // mirrors TrainingOps.semDedup(tau=0.4, nCells=16)
      "d14_semdedup" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "cells AS (SELECT vec_id, v, CAST(list_min(list_transform(range(16), j -> " +
          "[list_sum(list_transform(range(len(v)), i -> " +
          "((('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1]) * " +
          "(('0x' || substr(md5('c:' || j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0 - v[i+1])))), " +
          "j::DOUBLE]))[2] AS INT) AS cell FROM e), " +
          "dups AS (SELECT DISTINCT c1.vec_id FROM cells c1 JOIN cells c2 " +
          "ON c1.cell = c2.cell AND c2.vec_id < c1.vec_id " +
          "WHERE round(list_sum(list_transform(range(len(c1.v)), i -> c1.v[i+1]*c2.v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(c1.v)), i -> c1.v[i+1]*c1.v[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(c2.v)), i -> c2.v[i+1]*c2.v[i+1])))), 6) > 0.4) " +
          "SELECT c.vec_id, c.cell, d.vec_id IS NOT NULL AS is_dup " +
          "FROM cells c LEFT JOIN dups d ON c.vec_id = d.vec_id"),
      // embedding-cosine near-dup: 8-plane LSH bucket join (size-capped)
      // + exact cosine on candidates only — mirrors TrainingOps.embCosinePairs
      "d8_dedup_embedding" ->
        ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
          "b AS (SELECT vec_id, CAST(list_sum(list_transform(range(8), j -> " +
          "CASE WHEN list_sum(list_transform(range(len(v)), i -> " +
          "(('0x' || substr(md5(j || ':' || i),1,15))::BIGINT / pow(2,59) - 1.0) * v[i+1])) > 0 " +
          "THEN (1 << j) ELSE 0 END)) AS INT) AS bucket FROM e), " +
          "bc AS (SELECT bucket FROM b GROUP BY bucket HAVING count(*) BETWEEN 2 AND 4096), " +
          "gb AS (SELECT b.vec_id, b.bucket FROM b JOIN bc USING (bucket)), " +
          "p AS (SELECT x.vec_id AS a, y.vec_id AS b2 FROM gb x " +
          "JOIN gb y ON x.bucket = y.bucket AND x.vec_id < y.vec_id) " +
          "SELECT a, b2 AS b, cos FROM (SELECT p.a, p.b2, " +
          "round(list_sum(list_transform(range(len(ea.v)), i -> ea.v[i+1]*eb.v[i+1])) / " +
          "(sqrt(list_sum(list_transform(range(len(ea.v)), i -> ea.v[i+1]*ea.v[i+1]))) * " +
          "sqrt(list_sum(list_transform(range(len(eb.v)), i -> eb.v[i+1]*eb.v[i+1])))), 6) AS cos " +
          "FROM p JOIN e ea ON ea.vec_id = p.a JOIN e eb ON eb.vec_id = p.b2) " +
          "WHERE cos >= 0.1"),
      // paragraph-level cross-doc dedup: 8-word windows, keep = the
      // corpus-first occurrence of the content by (doc_id, idx) — the
      // window rn=1 is exactly Spark's min(struct(doc_id, idx)) rule
      "d11_paragraph_dedup" ->
        (s"WITH d AS (SELECT doc_id, $w AS w FROM documents WHERE len($w) >= 1), " +
          "u AS (SELECT doc_id, unnest(list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)), " +
          "i -> {'idx': CAST(i AS BIGINT), " +
          "'para': array_to_string(w[i*8+1:least((i+1)*8, len(w))], ' ')})) AS s FROM d), " +
          "c AS (SELECT doc_id, s.idx AS idx, s.para AS para FROM u), " +
          "k AS (SELECT doc_id, idx, para, " +
          "row_number() OVER (PARTITION BY md5(para) ORDER BY doc_id, idx) AS rn FROM c) " +
          "SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras, " +
          "CAST(count(*) FILTER (WHERE rn = 1) AS BIGINT) AS n_kept, " +
          "md5(coalesce(string_agg(para, ' ' ORDER BY idx) FILTER (WHERE rn = 1), '')) AS clean_md5 " +
          "FROM k GROUP BY doc_id"),
      // PII counts over the same deterministic augmentation as the query;
      // patterns are the shared Java/RE2 subset (TrainingOps.emailRe etc.)
      "t5_pii" ->
        (s"WITH a AS ($piiAugSql), " +
          "c AS (SELECT doc_id, " +
          "CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails, " +
          "CAST(len(regexp_extract_all(text, '[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}')) AS INT) AS n_ipv4, " +
          "CAST(len(regexp_extract_all(text, '\\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{4}')) AS INT) AS n_phones FROM a) " +
          "SELECT doc_id, n_emails, n_ipv4, n_phones, " +
          "(n_emails + n_ipv4 + n_phones) > 0 AS has_pii FROM c"),
      // PII redaction: sequential global replace email -> ipv4 -> phone,
      // the same order as TrainingOps.piiRedact; replacements contain no
      // digits or '@' so later passes can't match inside earlier tokens
      "t7_pii_redact" ->
        (s"WITH a AS ($piiAugSql), " +
          "r AS (SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(text, " +
          "'[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'), " +
          "'[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}', '<IP>', 'g'), " +
          "'\\+[0-9]{1,3}-[0-9]{3,4}-[0-9]{4}', '<PHONE>', 'g') AS red FROM a) " +
          "SELECT doc_id, md5(red) AS red_md5, CAST(length(red) AS INT) AS red_len FROM r"),
      // repetition stats: top-word fraction, duplicate 3-gram fraction,
      // duplicate 8-word-paragraph fraction — mirrors repetitionStats
      "t6_repetition" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE len($w) >= 1), " +
          "g AS (SELECT doc_id, w, len(w) AS n, " +
          s"CASE WHEN len(w) >= 3 THEN $sh3 ELSE []::VARCHAR[] END AS g3, " +
          "list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)), i -> " +
          "array_to_string(w[i*8+1:least((i+1)*8, len(w))], ' ')) AS pp FROM f) " +
          "SELECT doc_id, CAST(n AS INT) AS n_words, " +
          "round(list_max(list_transform(list_distinct(w), x -> len(list_filter(w, y -> y = x))))::DOUBLE / n, 4) AS top_word_frac, " +
          "round(CASE WHEN len(g3) >= 1 THEN (len(g3) - len(list_distinct(g3)))::DOUBLE / len(g3) ELSE 0.0 END, 4) AS dup_3gram_frac, " +
          "round((len(pp) - len(list_distinct(pp)))::DOUBLE / len(pp), 4) AS dup_para_frac FROM g"),
      // t55 oracle: t1's exact stop lists and tie precedence beside the
      // declared column, weak_signal gate FIRST (argmax over zeros is a
      // coin flip, not a mismatch)
      "t55_lang_agreement" ->
        (s"WITH f AS (SELECT doc_id, lang, $w AS w FROM documents WHERE len($w) >= 1), " +
          "sc AS (SELECT doc_id, lang, " +
          s"len(list_filter(w, x -> x IN $stopEn)) AS s_en, " +
          "len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein','zu','den'))) AS s_de, " +
          "len(list_filter(w, x -> x IN ('el','la','los','las','una','es','y','que'))) AS s_es, " +
          "len(list_filter(w, x -> x IN ('le','les','des','une','est','et','dans','pour'))) AS s_fr, " +
          "len(list_filter(w, x -> x IN ('的','是','了','在','我','有','和','不'))) AS s_zh FROM f), " +
          "p AS (SELECT doc_id, lang AS declared, CASE " +
          "WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en' " +
          "WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de' " +
          "WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es' " +
          "WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS predicted, " +
          "CAST(greatest(s_en, s_de, s_es, s_fr, s_zh) AS INT) AS n_stop FROM sc) " +
          "SELECT doc_id, declared, predicted, n_stop, " +
          "CASE WHEN n_stop = 0 THEN 'weak_signal' " +
          "WHEN declared = predicted THEN 'agree' ELSE 'mismatch' END AS verdict FROM p"),
      "t1_lang_id" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE len($w) >= 1), " +
          "sc AS (SELECT doc_id, CAST(len(w) AS INT) AS n_words, " +
          s"len(list_filter(w, x -> x IN $stopEn)) AS s_en, " +
          "len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein','zu','den'))) AS s_de, " +
          "len(list_filter(w, x -> x IN ('el','la','los','las','una','es','y','que'))) AS s_es, " +
          "len(list_filter(w, x -> x IN ('le','les','des','une','est','et','dans','pour'))) AS s_fr, " +
          "len(list_filter(w, x -> x IN ('的','是','了','在','我','有','和','不'))) AS s_zh FROM f) " +
          "SELECT doc_id, CASE " +
          "WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en' " +
          "WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de' " +
          "WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es' " +
          "WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lang_pred, " +
          "CAST(greatest(s_en, s_de, s_es, s_fr, s_zh) AS INT) AS n_stop, n_words FROM sc"),
      "t2_quality_score" ->
        (s"WITH f AS (SELECT doc_id, text, $w AS w FROM documents WHERE length(text) >= 1), " +
          "b AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars, CAST(len(w) AS INT) AS n_words, " +
          "list_sum(list_transform(w, x -> length(x))) AS sum_wlen, " +
          "length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit, " +
          "length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct, " +
          s"len(list_filter(w, x -> x IN $stopEn)) AS s_en FROM f) " +
          "SELECT doc_id, n_chars, n_words, " +
          "round(sum_wlen::DOUBLE / n_words, 4) AS mean_wlen, " +
          "round(n_digit::DOUBLE / n_chars, 4) AS digit_ratio, " +
          "round(n_punct::DOUBLE / n_chars, 4) AS punct_ratio, " +
          "round(s_en::DOUBLE / n_words, 4) AS stop_ratio, " +
          "round(least(1.0::DOUBLE, n_words::DOUBLE / 100.0::DOUBLE) * " +
          "(1.0::DOUBLE - n_digit::DOUBLE / n_chars) * " +
          "(1.0::DOUBLE - least(1.0::DOUBLE, 5.0::DOUBLE * n_punct::DOUBLE / n_chars)), 4) AS quality FROM b"),
      "t3_token_counts" ->
        (s"SELECT doc_id, CAST(len($w) AS INT) AS ws_tokens, " +
          "CAST(len(regexp_extract_all(text, '[A-Za-z0-9]+|[^A-Za-z0-9 \\t\\n\\r\\f\\x0B]')) AS INT) AS re_tokens " +
          "FROM documents WHERE length(text) >= 1"),
      // t34 oracle: the naive form this shape replaces — rank by hash
      // within each lang, keep h <= the k-th smallest (ties keep all);
      // a MATCH proves the k-heap threshold equals the windowed k-th
      "t34_group_sample" ->
        ("WITH t AS (SELECT doc_id, lang, " +
          "('0x' || substr(md5('gs:' || doc_id),1,15))::BIGINT AS h FROM documents), " +
          "r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM t), " +
          "thr AS (SELECT lang, max(h) AS h_max FROM r WHERE rn <= 16 GROUP BY lang) " +
          "SELECT t.doc_id, t.lang, t.h FROM t JOIN thr USING (lang) WHERE t.h <= thr.h_max"),
      // t44 oracle: same planted-damage body construction, marker hits
      // via the replace-count (non-overlapping = Spark's split-count),
      // char lengths equal on the BMP corpus, ppm floor + >= threshold
      "t44_mojibake" -> {
        val mh = Seq("Ã", "â€", "Â", "ï¿½", "�")
          .map(m => s"(length(t) - length(replace(t, '$m', ''))) // ${m.length}")
          .mkString(" + ")
        "WITH b AS (SELECT doc_id, CASE " +
          "WHEN doc_id % 6 = 1 THEN text || repeat(' cafÃ© naÃ¯ve â€™s ï¿½x', CAST(1 + doc_id % 3 AS INT)) " +
          "WHEN doc_id % 6 = 3 THEN text || ' Â§Â· Â§Â·' " +
          "WHEN doc_id % 6 = 5 THEN text || ' bad�seq�' " +
          "ELSE text END AS t FROM documents), " +
          s"c AS (SELECT doc_id, length(t) AS n_chars, $mh AS mh FROM b), " +
          "d AS (SELECT doc_id, n_chars, mh, " +
          "CASE WHEN n_chars > 0 THEN 1000000 * mh // n_chars END AS ppm FROM c) " +
          "SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars, " +
          "CAST(mh AS BIGINT) AS moji_hits, CAST(ppm AS BIGINT) AS moji_ppm, " +
          "coalesce(ppm >= 5000, false) AS damaged FROM d"
      },
      // t45 oracle: re-derives the span-corruption state machine
      // relationally — per-word start flag from the same keyed md5,
      // masked = start within the trailing 3-word window (two lags),
      // run starts where masked rises, run index = cumsum(starts)-1,
      // inputs/targets rebuilt by ordered string_agg with sentinel
      // injection; zero-word docs come back ('' inputs, NULL targets)
      // via the LEFT JOIN, and the final <extra_id_n> is appended only
      // when runs exist — a MATCH pins the sentinel numbering, the
      // run-merge semantics, and the single-space rejoin all at once
      "t45_span_corruption" ->
        ("WITH base AS (SELECT doc_id, trim(text) AS t FROM documents), " +
          "w AS (SELECT doc_id, CASE WHEN t = '' THEN []::VARCHAR[] " +
          "ELSE regexp_split_to_array(t, '[ \\t\\n\\r\\f]+') END AS w FROM base), " +
          "u AS (SELECT doc_id, len(w) AS n, unnest(range(len(w))) AS i, unnest(w) AS word FROM w), " +
          "s AS (SELECT doc_id, n, i, word, " +
          "('0x' || substr(md5('sp:' || doc_id || ':' || i),1,15))::BIGINT % 100 < 5 AS st FROM u), " +
          "m AS (SELECT *, (st OR coalesce(lag(st,1) OVER win, false) " +
          "OR coalesce(lag(st,2) OVER win, false)) AS mk FROM s " +
          "WINDOW win AS (PARTITION BY doc_id ORDER BY i)), " +
          "r AS (SELECT *, CASE WHEN mk AND NOT coalesce(lag(mk) OVER win, false) " +
          "THEN 1 ELSE 0 END AS rs FROM m WINDOW win AS (PARTITION BY doc_id ORDER BY i)), " +
          "q AS (SELECT *, sum(rs) OVER (PARTITION BY doc_id ORDER BY i) - 1 AS ridx FROM r), " +
          "agg AS (SELECT doc_id, max(n) AS nw, " +
          "sum(CASE WHEN mk THEN 1 ELSE 0 END) AS nm, sum(rs) AS ns, " +
          "string_agg(CASE WHEN NOT mk THEN word " +
          "WHEN rs = 1 THEN '<extra_id_' || ridx || '>' END, ' ' ORDER BY i) AS inputs, " +
          "string_agg(CASE WHEN mk AND rs = 1 THEN '<extra_id_' || ridx || '> ' || word " +
          "WHEN mk THEN word END, ' ' ORDER BY i) AS tg FROM q GROUP BY doc_id) " +
          "SELECT b.doc_id, CAST(coalesce(a.nw, 0) AS INT) AS n_words, " +
          "CAST(coalesce(a.nm, 0) AS INT) AS n_masked, " +
          "CAST(coalesce(a.ns, 0) AS INT) AS n_spans, " +
          "coalesce(a.inputs, '') AS inputs, " +
          "CASE WHEN coalesce(a.ns, 0) > 0 THEN a.tg || ' <extra_id_' || a.ns || '>' END AS targets " +
          "FROM base b LEFT JOIN agg a USING (doc_id)"),
      // t54 oracle: the four families' moments in closed form — the
      // constant-k family's VMR is identically 0, the mixed literal's
      // constants are hand-derived (W=36, Q=308 -> 1355 milli), the
      // spiky family's VMR is the exact integer formula in m — so a
      // MATCH pins the whole split/trim/count pipeline against
      // arithmetic with no string processing on the oracle side
      "t54_burstiness" ->
        ("WITH c AS (SELECT doc_id, doc_id % 4 AS f, " +
          "CAST(4 + doc_id % 5 AS BIGINT) AS k, " +
          "CAST(30 + doc_id % 10 AS BIGINT) AS m FROM documents) " +
          "SELECT doc_id, n_sents, n_words, mean_milli, vmr_milli, verdict FROM ( " +
          "SELECT doc_id, CAST(5 AS BIGINT) AS n_sents, 5 * k AS n_words, " +
          "1000 * k AS mean_milli, CAST(0 AS BIGINT) AS vmr_milli, " +
          "'uniform' AS verdict FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 5, 36, 7200, 1355, 'normal' FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 5, 29 + m, 200 * (29 + m), " +
          "(1000 * (5 * (631 + m * m) - (29 + m) * (29 + m))) // (5 * (29 + m)), " +
          "'bursty' FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, NULL, NULL, NULL, NULL, 'empty' FROM c WHERE f = 3)"),
      // t53 oracle: same entity decoration (decoys stay uncounted —
      // no terminator, no entity), three syntax counts, entity-char
      // sum via joined match strings, floor-div ppm
      "t53_entity_residue" ->
        ("WITH a AS (SELECT doc_id, coalesce(text, '') || " +
          "CASE WHEN doc_id % 3 = 0 THEN ' &amp; &quot;q&quot;' ELSE '' END || " +
          "CASE WHEN doc_id % 5 = 1 THEN ' &#8211; and &#x27;s' ELSE '' END || " +
          "CASE WHEN doc_id % 7 = 2 THEN ' AT&T snack&shop &broken' ELSE '' END AS t FROM documents), " +
          "b AS (SELECT doc_id, length(t) AS nc, " +
          "regexp_extract_all(t, '&[a-zA-Z][a-zA-Z0-9]{1,31};') AS nm, " +
          "regexp_extract_all(t, '&#[0-9]{1,7};') AS dc, " +
          "regexp_extract_all(t, '&#[xX][0-9a-fA-F]{1,6};') AS hx FROM a), " +
          "c AS (SELECT doc_id, nc, len(nm) AS n_named, len(dc) AS n_decimal, " +
          // array_to_string([]) is NULL in DuckDB (Spark concat_ws
          // gives '') — coalesce each term
          "len(hx) AS n_hex, coalesce(length(array_to_string(nm, '')), 0) + " +
          "coalesce(length(array_to_string(dc, '')), 0) + " +
          "coalesce(length(array_to_string(hx, '')), 0) AS ec FROM b) " +
          "SELECT doc_id, CAST(nc AS BIGINT) AS n_chars, CAST(n_named AS INT) AS n_named, " +
          "CAST(n_decimal AS INT) AS n_decimal, CAST(n_hex AS INT) AS n_hex, " +
          "CAST(ec AS BIGINT) AS ent_chars, " +
          "CASE WHEN nc > 0 THEN CAST((1000000 * ec) // nc AS BIGINT) END AS residue_ppm, " +
          "n_named + n_decimal + n_hex > 0 AS has_residue FROM c"),
      // t52 oracle: same %4 case decoration, ASCII-only regex classes
      // (full-match anchors for all-caps words), floor-div ppm with
      // NULL on letterless text, the >= 30% / >= 5 words shouting gate
      "t52_casing_profile" ->
        ("WITH a AS (SELECT doc_id, CASE WHEN doc_id % 4 = 1 THEN upper(text) " +
          "WHEN doc_id % 4 = 2 THEN 'Sentence Start here. ' || text " +
          "WHEN doc_id % 4 = 3 THEN 'BREAKING NEWS NOW ' || text " +
          "ELSE text END AS t FROM documents), " +
          "b AS (SELECT doc_id, list_filter(regexp_split_to_array(coalesce(t, ''), " +
          "'[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS w, " +
          "length(regexp_replace(coalesce(t, ''), '[^A-Z]', '', 'g')) AS uc, " +
          "length(regexp_replace(coalesce(t, ''), '[^A-Za-z]', '', 'g')) AS lc FROM a), " +
          "c AS (SELECT doc_id, len(w) AS n_words, " +
          "len(list_filter(w, x -> regexp_matches(x, '^[A-Z]{2,}$'))) AS n_allcaps, " +
          "len(list_filter(w, x -> regexp_matches(x, '^[A-Z]'))) AS n_capitalized, " +
          "uc, lc FROM b) " +
          "SELECT doc_id, CAST(n_words AS INT) AS n_words, " +
          "CAST(n_allcaps AS INT) AS n_allcaps, " +
          "CAST(n_capitalized AS INT) AS n_capitalized, " +
          "CAST(uc AS BIGINT) AS n_upper_chars, CAST(lc AS BIGINT) AS n_letter_chars, " +
          "CASE WHEN lc > 0 THEN CAST((1000000 * uc) // lc AS BIGINT) END AS upper_ppm, " +
          "coalesce(lc > 0 AND (1000000 * uc) // lc >= 300000 AND n_words >= 5, false) AS shouting " +
          "FROM c"),
      // t51 oracle: re-derives selection (mlm: hash < 15), the action
      // decile (mlma:), and the document-local replacement index
      // (mlmr: mod n, 1-based list pick) per position, rebuilds
      // masked_text/labels by ordered string_agg; zero-word docs come
      // back ('' text, NULL labels) via the LEFT JOIN — a MATCH pins
      // the 80/10/10 split, the local-draw convention, and the
      // keep-action trap (original word in BOTH masked_text and labels)
      "t51_mlm_mask" ->
        ("WITH base AS (SELECT doc_id, coalesce(text, '') AS t FROM documents), " +
          "w AS (SELECT doc_id, list_filter(regexp_split_to_array(t, " +
          "'[ \\t\\n\\r\\f\\x0B]+'), x -> x <> '') AS w FROM base), " +
          "u AS (SELECT doc_id, w, len(w) AS n, unnest(range(len(w))) AS i, unnest(w) AS word FROM w), " +
          "s AS (SELECT doc_id, w, n, i, word, " +
          "('0x' || substr(md5('mlm:'  || doc_id || ':' || i),1,15))::BIGINT % 100 < 15 AS sel, " +
          "('0x' || substr(md5('mlma:' || doc_id || ':' || i),1,15))::BIGINT % 10 AS act, " +
          "('0x' || substr(md5('mlmr:' || doc_id || ':' || i),1,15))::BIGINT AS hr FROM u), " +
          "p AS (SELECT doc_id, n, i, word, sel, act, " +
          "CASE WHEN sel AND act = 8 THEN w[(hr % n)::INT + 1] END AS rep FROM s), " +
          "agg AS (SELECT doc_id, max(n) AS n, " +
          "sum(CASE WHEN sel THEN 1 ELSE 0 END) AS nsel, " +
          "sum(CASE WHEN sel AND act < 8 THEN 1 ELSE 0 END) AS nmask, " +
          "sum(CASE WHEN sel AND act = 8 THEN 1 ELSE 0 END) AS nrand, " +
          "sum(CASE WHEN sel AND act = 9 THEN 1 ELSE 0 END) AS nkeep, " +
          "string_agg(CASE WHEN NOT sel THEN word WHEN act < 8 THEN '[MASK]' " +
          "WHEN act = 8 THEN rep ELSE word END, ' ' ORDER BY i) AS mt, " +
          "string_agg(CASE WHEN sel THEN word END, ' ' ORDER BY i) AS labels " +
          "FROM p GROUP BY doc_id) " +
          "SELECT b.doc_id, CAST(coalesce(a.n, 0) AS INT) AS n_words, " +
          "CAST(coalesce(a.nsel, 0) AS INT) AS n_selected, " +
          "CAST(coalesce(a.nmask, 0) AS INT) AS n_masktok, " +
          "CAST(coalesce(a.nrand, 0) AS INT) AS n_random, " +
          "CAST(coalesce(a.nkeep, 0) AS INT) AS n_keep, " +
          "coalesce(a.mt, '') AS masked_text, " +
          "CASE WHEN coalesce(a.nsel, 0) > 0 THEN a.labels END AS labels " +
          "FROM base b LEFT JOIN agg a USING (doc_id)"),
      // t46 oracle: same keyed hashes, list slicing (1-based inclusive
      // w[a:b] mirrors Spark's slice(arr, a, len)), sentinel arrays
      // concatenated in the same psm/spm orders — a MATCH pins split
      // arithmetic (mid_start = hA mod n, mid_len = 1 + hB mod
      // min(16, n-ms)), the mode coin, and the token layout verbatim
      "t46_fim_transform" ->
        ("WITH base AS (SELECT doc_id, trim(text) AS t FROM documents), " +
          "w AS (SELECT doc_id, CASE WHEN t = '' THEN []::VARCHAR[] " +
          "ELSE regexp_split_to_array(t, '[ \\t\\n\\r\\f\\x0B]+') END AS w FROM base), " +
          "h AS (SELECT doc_id, w, len(w) AS n, " +
          "('0x' || substr(md5('fim:'  || doc_id),1,15))::BIGINT % 100 AS ha, " +
          "('0x' || substr(md5('fima:' || doc_id),1,15))::BIGINT AS hs, " +
          "('0x' || substr(md5('fimb:' || doc_id),1,15))::BIGINT AS hl, " +
          "('0x' || substr(md5('fimm:' || doc_id),1,15))::BIGINT % 2 AS hm FROM w), " +
          "c AS (SELECT doc_id, w, n, (n >= 3 AND ha < 50) AS ap, " +
          "CASE WHEN n > 0 THEN hs % n END AS ms, hl, hm FROM h), " +
          "d AS (SELECT *, CASE WHEN ap THEN 1 + hl % least(16, n - ms) END AS ml FROM c), " +
          "e AS (SELECT doc_id, n, ap, hm, ms, ml, " +
          "w[1:ms] AS pre, w[ms+1:ms+ml] AS mid, w[ms+ml+1:n] AS suf, w FROM d) " +
          "SELECT doc_id, CAST(n AS INT) AS n_words, " +
          "CASE WHEN NOT ap THEN 'none' WHEN hm = 1 THEN 'spm' ELSE 'psm' END AS mode, " +
          "CASE WHEN ap THEN CAST(ms AS INT) END AS mid_start, " +
          "CASE WHEN ap THEN CAST(ml AS INT) END AS mid_len, " +
          "CASE WHEN NOT ap THEN array_to_string(w, ' ') " +
          "WHEN hm = 1 THEN array_to_string(['<fim_suffix>'] || suf || ['<fim_prefix>'] || pre || ['<fim_middle>'] || mid, ' ') " +
          "ELSE array_to_string(['<fim_prefix>'] || pre || ['<fim_suffix>'] || suf || ['<fim_middle>'] || mid, ' ') END AS fim_text " +
          "FROM e"),
      // t41 oracle: same vowel-group syllables, [.!?]+ sentences, and
      // two-step floor chain in milli units
      "t41_readability" ->
        ("WITH f AS (SELECT doc_id, lower(text) AS lt FROM documents WHERE length(trim(text)) >= 1), " +
          "b AS (SELECT doc_id, " +
          "len(regexp_split_to_array(trim(lt), '[ \\t\\n\\r\\f\\x0B]+')) AS n_words, " +
          "greatest(1, len(regexp_extract_all(lt, '[.!?]+'))) AS n_sentences, " +
          "list_sum(list_transform(regexp_split_to_array(trim(lt), '[ \\t\\n\\r\\f\\x0B]+'), " +
          "x -> greatest(1, len(regexp_extract_all(x, '[aeiouy]+'))))) AS n_syllables FROM f), " +
          "c AS (SELECT doc_id, n_words, n_sentences, n_syllables, " +
          "(1000000 * n_words) // n_sentences AS wps, " +
          "(1000000 * n_syllables) // n_words AS spw FROM b), " +
          "d AS (SELECT *, 206835 - (1015 * wps) // 1000000 - (84600 * spw) // 1000000 AS fm FROM c) " +
          "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, " +
          "CAST(n_sentences AS BIGINT) AS n_sentences, " +
          "CAST(n_syllables AS BIGINT) AS n_syllables, " +
          "CAST(wps AS BIGINT) AS wps_ppm, CAST(spw AS BIGINT) AS spw_ppm, " +
          "CAST(fm AS BIGINT) AS flesch_milli, " +
          "CASE WHEN fm >= 70000 THEN 'easy' WHEN fm >= 50000 THEN 'standard' " +
          "ELSE 'difficult' END AS band FROM d"),
      // t40 oracle: same bucket hash, per-token min-bucket first-seen,
      // cumulative sums over the 16-row spine
      "t40_vocab_growth" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(trim(text)) >= 1), " +
          "b AS (SELECT ('0x' || substr(md5('vg:' || doc_id),1,15))::BIGINT % 16 AS bk, w FROM f), " +
          "pb AS (SELECT bk, count(*) AS nd, sum(len(w)) AS nt FROM b GROUP BY 1), " +
          "fs AS (SELECT min(bk) AS bk FROM (SELECT bk, unnest(w) AS t FROM b) GROUP BY t), " +
          "nv AS (SELECT bk, count(*) AS nv FROM fs GROUP BY 1), " +
          "sp AS (SELECT CAST(range AS INT) AS bk FROM range(16)) " +
          "SELECT bk AS prefix_idx, " +
          "CAST(sum(coalesce(nd, 0)) OVER (ORDER BY bk) AS BIGINT) AS n_docs, " +
          "CAST(sum(coalesce(nt, 0)) OVER (ORDER BY bk) AS BIGINT) AS n_tokens, " +
          "CAST(sum(coalesce(nv, 0)) OVER (ORDER BY bk) AS BIGINT) AS vocab " +
          "FROM sp LEFT JOIN pb USING (bk) LEFT JOIN nv USING (bk)"),
      // t42 oracle: flat-window rank over the word counts (ties by word
      // asc, both sides), freq(1) cross-joined, doubling join on 2*rnk;
      // a MATCH proves the salted two-stage top-K equals the global rank
      "t42_zipf_ranks" ->
        (s"WITH wc AS (SELECT word, count(*) AS c FROM " +
          s"(SELECT unnest($w) AS word FROM documents WHERE trim(text) <> '') GROUP BY 1), " +
          "r AS (SELECT word, c, row_number() OVER (ORDER BY c DESC, word) AS rk FROM wc), " +
          "t AS (SELECT * FROM r WHERE rk <= 256), " +
          "c1 AS (SELECT c AS c1 FROM r WHERE rk = 1) " +
          "SELECT CAST(t.rk AS INT) AS rnk, t.word, CAST(t.c AS BIGINT) AS freq, " +
          "CAST(1000000 * t.c // c1.c1 AS BIGINT) AS rf_ppm, " +
          "CAST(1000000 * t.c // r2.c AS BIGINT) AS dbl_ppm " +
          "FROM t CROSS JOIN c1 LEFT JOIN t r2 ON r2.rk = 2 * t.rk"),
      // t43 oracle: per-(doc, word) counts then per-doc rollup, the same
      // three ppm integer floors
      "t43_lexical_diversity" ->
        (s"WITH wc AS (SELECT doc_id, word, count(*) AS c FROM " +
          s"(SELECT doc_id, unnest($w) AS word FROM documents WHERE trim(text) <> '') GROUP BY 1, 2), " +
          "a AS (SELECT doc_id, sum(c) AS n_words, count(*) AS n_distinct, " +
          "sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax, max(c) AS top_freq " +
          "FROM wc GROUP BY 1) " +
          "SELECT doc_id, CAST(n_words AS BIGINT) AS n_words, " +
          "CAST(n_distinct AS BIGINT) AS n_distinct, " +
          "CAST(1000000 * n_distinct // n_words AS BIGINT) AS ttr_ppm, " +
          "CAST(1000000 * n_hapax // n_words AS BIGINT) AS hapax_ppm, " +
          "CAST(1000000 * top_freq // n_words AS BIGINT) AS top_share_ppm FROM a"),
      // d26 oracle: same snapshot membership arithmetic (doc_id%3), same
      // shingle+h60 front, per-(lang,h) max() membership flags, per-lang
      // counts and integer-ppm rates
      "d26_crawl_novelty" ->
        (s"WITH f AS (SELECT doc_id, lang, $w AS w FROM documents), " +
          s"g AS (SELECT doc_id, lang, unnest($sh3) AS sg FROM f WHERE len(w) >= 3), " +
          "h AS (SELECT lang, ('0x' || substr(md5(sg),1,15))::BIGINT AS h, " +
          "max(CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END) AS o, " +
          "max(CASE WHEN doc_id % 3 <> 1 THEN 1 ELSE 0 END) AS nw " +
          "FROM g GROUP BY 1, 2), " +
          "a AS (SELECT lang, CAST(sum(o) AS BIGINT) AS grams_old, " +
          "CAST(sum(nw) AS BIGINT) AS grams_new, " +
          "CAST(sum(CASE WHEN o = 1 AND nw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS kept, " +
          "CAST(sum(CASE WHEN o = 0 AND nw = 1 THEN 1 ELSE 0 END) AS BIGINT) AS added, " +
          "CAST(sum(CASE WHEN o = 1 AND nw = 0 THEN 1 ELSE 0 END) AS BIGINT) AS removed " +
          "FROM h GROUP BY lang) " +
          "SELECT lang, grams_old, grams_new, kept, added, removed, " +
          "CAST(CASE WHEN grams_new > 0 THEN added * 1000000 // grams_new END AS BIGINT) AS novelty_ppm, " +
          "CAST(CASE WHEN grams_old > 0 THEN removed * 1000000 // grams_old END AS BIGINT) AS decay_ppm " +
          "FROM a"),
      // t32 oracle: the same KMV construction — distinct (source, h60 of
      // the shared 3-shingle), k smallest per source via a ranked
      // window, then the sketch-only estimator on list ops; a MATCH
      // proves both engines pick the same k-minima and agree on the
      // merged-sketch membership counts
      "t32_source_overlap" ->
        (s"WITH f AS (SELECT doc_id, source, $w AS w FROM documents), " +
          s"g AS (SELECT source, unnest(list_distinct($sh3)) AS sg FROM f WHERE len(w) >= 3), " +
          "h AS (SELECT DISTINCT source, ('0x' || substr(md5(sg),1,15))::BIGINT AS h FROM g), " +
          "r AS (SELECT source, h, row_number() OVER (PARTITION BY source ORDER BY h) AS rn FROM h), " +
          "sk AS (SELECT source, list(h ORDER BY h) AS sk FROM r WHERE rn <= 256 GROUP BY source), " +
          "p AS (SELECT a.source AS src_a, a.sk AS ska, b.source AS src_b, b.sk AS skb " +
          "FROM sk a, sk b WHERE a.source < b.source), " +
          "m AS (SELECT src_a, src_b, ska, skb, list_sort(list_distinct(ska || skb))[1:256] AS m FROM p), " +
          "c AS (SELECT src_a, src_b, CAST(len(m) AS INT) AS sketch_n, " +
          "CAST(len(list_filter(m, x -> list_contains(ska, x) AND list_contains(skb, x))) AS INT) AS n_shared FROM m) " +
          "SELECT src_a, src_b, sketch_n, n_shared, " +
          "CAST(n_shared::BIGINT * 1000000 // sketch_n AS BIGINT) AS est_jaccard_ppm FROM c"),
      "t4_fingerprint" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE len($w) >= 8), " +
          "hs AS (SELECT doc_id, list_transform(range(len(w)-3), i -> " +
          "('0x' || substr(md5(array_to_string(w[i+1:i+4], ' ')),1,15))::BIGINT) AS h FROM f) " +
          "SELECT doc_id, CAST(len(h) AS INT) AS n_grams, " +
          "md5(array_to_string(list_transform(list_sort(list_distinct(" +
          "list_transform(range(len(h)-4), i -> list_min(h[i+1:i+5])))), x -> x::VARCHAR), ',')) AS fp " +
          "FROM hs"),
      "m2_frame_sample" ->
        ("WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents WHERE length(text) >= 1), " +
          "x AS (SELECT doc_id, text, unnest(range(CAST(ceil(n/512.0) AS BIGINT))) AS f FROM d) " +
          "SELECT doc_id, CAST(f AS INT) AS frame_idx, " +
          "md5(substr(text, CAST(f*512+1 AS INT), 256)) AS frame_md5, " +
          "CAST(length(substr(text, CAST(f*512+1 AS INT), 256)) AS INT) AS frame_chars FROM x"),
      // WARC oracle: record offsets derived ARITHMETICALLY (header bytes
      // + Content-Length + 4-byte terminator, cumulative in doc_id order
      // per segment) — the parser walks bytes, the oracle never does, so
      // a MATCH means the byte-walk and the arithmetic independently agree
      "m3_warc_records" ->
        ("WITH d AS (SELECT doc_id, doc_id % 16 AS segment_id, " +
          "'https://' || CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END || '/doc/' || doc_id AS url, " +
          "text FROM documents), " +
          "r AS (SELECT *, 'WARC/1.0' || chr(13) || chr(10) || 'WARC-Target-URI: ' || url || " +
          "chr(13) || chr(10) || 'Content-Length: ' || strlen(text) || " +
          "chr(13) || chr(10) || chr(13) || chr(10) AS header FROM d), " +
          "l AS (SELECT segment_id, doc_id, url, strlen(text) AS cl, md5(text) AS pm, " +
          "strlen(header) + strlen(text) + 4 AS rlen FROM r), " +
          "o AS (SELECT segment_id, doc_id, url, cl, pm, " +
          "coalesce(sum(rlen) OVER (PARTITION BY segment_id ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rec_offset FROM l) " +
          "SELECT segment_id, CAST(rec_offset AS BIGINT) AS rec_offset, url AS target_uri, " +
          "CAST(cl AS INT) AS content_length, pm AS payload_md5, 'ok' AS status FROM o"),
      // m4 oracle: format/dims/status derived ARITHMETICALLY from
      // doc_id (dims are pure functions of the id in the builder), fully
      // independent of both the byte builder and the byte parser — a
      // MATCH means container-building and container-walking round-trip
      // through the real BE/LE encodings and the JPEG segment walk
      "m4_image_dims" ->
        ("SELECT doc_id, " +
          "CASE doc_id % 6 WHEN 0 THEN 'png' WHEN 3 THEN 'png' WHEN 1 THEN 'gif' " +
          "WHEN 2 THEN 'jpeg' WHEN 5 THEN 'jpeg' ELSE 'unknown' END AS format, " +
          "CASE WHEN doc_id % 6 IN (0, 1, 2) THEN CAST(16 + doc_id % 640 AS INT) END AS width, " +
          "CASE WHEN doc_id % 6 IN (0, 1, 2) THEN CAST(16 + doc_id % 480 AS INT) END AS height, " +
          "CASE doc_id % 6 WHEN 3 THEN 'truncated' WHEN 4 THEN 'unknown' " +
          "WHEN 5 THEN 'malformed' ELSE 'ok' END AS status FROM documents"),
      // m7 oracle: the m3 offset arithmetic (record lengths cumulated
      // per segment) + the m6 field CASEs — the payload string rebuilds
      // in SQL so strlen carries every length, no hand-counted constants
      "m7_warc_http" -> {
        val C = "chr(13) || chr(10)"
        val pay = "CASE doc_id % 6 " +
          s"WHEN 0 THEN 'HTTP/1.1 200 OK' || $C || 'Content-Type: text/html; charset=utf-8' || $C || " +
          s"'Server: srv' || (doc_id % 9) || $C || $C || '<html>doc ' || doc_id || '</html>' " +
          s"WHEN 1 THEN 'HTTP/1.1 301 Moved Permanently' || $C || 'Location: https://h' || (doc_id % 97) || " +
          s"'.example.com/doc/' || doc_id || $C || $C " +
          "WHEN 2 THEN 'HTTP/1.0 404 Not Found' || chr(10) || 'Content-Type: text/plain' || chr(10) || chr(10) || 'missing ' || doc_id " +
          s"WHEN 3 THEN 'HTTP/1.1 200 OK' || $C || 'CONTENT-TYPE: application/json' || $C || " +
          s"'Content-Type: text/xml' || $C || $C || '{\"doc\": ' || doc_id || '}' " +
          s"WHEN 4 THEN 'HTTP/1.1 200 OK' || $C || 'Content-Type: text/html' || $C || 'X-Doc: ' || doc_id " +
          s"ELSE 'not-http doc ' || doc_id || $C || $C || 'body' END"
        "WITH d AS (SELECT doc_id, doc_id % 16 AS segment_id, " +
          "'https://' || CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END || '/doc/' || doc_id AS url, " +
          s"$pay AS payload FROM documents), " +
          s"r AS (SELECT *, 'WARC/1.0' || $C || 'WARC-Target-URI: ' || url || $C || " +
          s"'Content-Length: ' || strlen(payload) || $C || $C AS header FROM d), " +
          "l AS (SELECT segment_id, doc_id, url, strlen(payload) AS cl, " +
          "strlen(header) + strlen(payload) + 4 AS rlen FROM r), " +
          "o AS (SELECT segment_id, doc_id, url, cl, " +
          "coalesce(sum(rlen) OVER (PARTITION BY segment_id ORDER BY doc_id " +
          "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS rec_offset FROM l) " +
          "SELECT segment_id, CAST(rec_offset AS BIGINT) AS rec_offset, url AS target_uri, " +
          "CAST(cl AS INT) AS content_length, " +
          "CAST(CASE doc_id % 6 WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 404 " +
          "WHEN 3 THEN 200 WHEN 4 THEN 200 END AS INT) AS http_status, " +
          "CASE doc_id % 6 WHEN 0 THEN 'text/html' WHEN 2 THEN 'text/plain' " +
          "WHEN 3 THEN 'application/json' WHEN 4 THEN 'text/html' END AS content_type, " +
          "CASE doc_id % 6 WHEN 0 THEN md5('<html>doc ' || doc_id || '</html>') " +
          "WHEN 1 THEN md5('') WHEN 2 THEN md5('missing ' || doc_id) " +
          "WHEN 3 THEN md5('{\"doc\": ' || doc_id || '}') END AS body_md5, " +
          "CASE doc_id % 6 WHEN 4 THEN 'truncated' WHEN 5 THEN 'malformed' ELSE 'ok' END AS status " +
          "FROM o"
      },
      // m6 oracle: status/headers/body-address all arithmetic from
      // doc_id — header byte lengths counted independently (the m3
      // offset discipline), body md5 recomputed from the composed string
      "m6_http_responses" ->
        ("SELECT doc_id, " +
          "CAST(CASE doc_id % 6 WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 404 " +
          "WHEN 3 THEN 200 WHEN 4 THEN 200 END AS INT) AS http_status, " +
          "CASE doc_id % 6 WHEN 0 THEN 'text/html' WHEN 2 THEN 'text/plain' " +
          "WHEN 3 THEN 'application/json' WHEN 4 THEN 'text/html' END AS content_type, " +
          "CASE doc_id % 6 WHEN 1 THEN 'https://h' || (doc_id % 97) || '.example.com/doc/' || doc_id END AS location, " +
          "CASE doc_id % 6 WHEN 4 THEN 'truncated' WHEN 5 THEN 'malformed' ELSE 'ok' END AS status, " +
          "CAST(CASE doc_id % 6 WHEN 0 THEN 73 " +
          "WHEN 1 THEN 46 + strlen('https://h' || (doc_id % 97) || '.example.com/doc/' || doc_id) " +
          "WHEN 2 THEN 49 WHEN 3 THEN 75 END AS INT) AS body_offset, " +
          "CAST(CASE doc_id % 6 WHEN 0 THEN strlen('<html>doc ' || doc_id || '</html>') " +
          "WHEN 1 THEN 0 WHEN 2 THEN strlen('missing ' || doc_id) " +
          "WHEN 3 THEN strlen('{\"doc\": ' || doc_id || '}') END AS INT) AS body_len, " +
          "CASE doc_id % 6 WHEN 0 THEN md5('<html>doc ' || doc_id || '</html>') " +
          "WHEN 1 THEN md5('') WHEN 2 THEN md5('missing ' || doc_id) " +
          "WHEN 3 THEN md5('{\"doc\": ' || doc_id || '}') END AS body_md5 " +
          "FROM documents"),
      // m10 oracle: member rank ordering (m9) x the m6/m7 HTTP field
      // CASEs, with the precedence ladder as SQL: gzip_truncated on the
      // cut segment's LAST member beats everything; warc_malformed on
      // the %13==6 members does NOT disturb later members' rows
      "m10_cc_reader" ->
        ("WITH d AS (SELECT doc_id, doc_id % 16 AS segment_id, " +
          "'https://' || CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END || '/doc/' || doc_id AS url " +
          "FROM documents), " +
          "o AS (SELECT segment_id, doc_id, url, " +
          "row_number() OVER (PARTITION BY segment_id ORDER BY doc_id) - 1 AS idx, " +
          "count(*) OVER (PARTITION BY segment_id) AS cnt FROM d), " +
          "f AS (SELECT *, (segment_id % 4 = 1 AND idx = cnt - 1) AS cut, " +
          "(doc_id % 13 = 6) AS notwarc FROM o) " +
          "SELECT segment_id, CAST(idx AS INT) AS member_idx, " +
          "CASE WHEN cut OR notwarc THEN NULL ELSE url END AS target_uri, " +
          "CAST(CASE WHEN cut OR notwarc THEN NULL ELSE " +
          "CASE doc_id % 6 WHEN 0 THEN 200 WHEN 1 THEN 301 WHEN 2 THEN 404 " +
          "WHEN 3 THEN 200 WHEN 4 THEN 200 END END AS INT) AS http_status, " +
          "CASE WHEN cut OR notwarc THEN NULL ELSE " +
          "CASE doc_id % 6 WHEN 0 THEN 'text/html' WHEN 2 THEN 'text/plain' " +
          "WHEN 3 THEN 'application/json' WHEN 4 THEN 'text/html' END END AS content_type, " +
          "CASE WHEN cut OR notwarc THEN NULL ELSE " +
          "CASE doc_id % 6 WHEN 0 THEN md5('<html>doc ' || doc_id || '</html>') " +
          "WHEN 1 THEN md5('') WHEN 2 THEN md5('missing ' || doc_id) " +
          "WHEN 3 THEN md5('{\"doc\": ' || doc_id || '}') END END AS body_md5, " +
          "CASE WHEN cut THEN 'gzip_truncated' WHEN notwarc THEN 'warc_malformed' ELSE " +
          "CASE doc_id % 6 WHEN 4 THEN 'truncated' WHEN 5 THEN 'malformed' ELSE 'ok' END END AS status " +
          "FROM f"),
      // m9 oracle: decompressed member content = the m3-style record
      // string, so md5/length derive in SQL with no gunzip anywhere; the
      // cut segment's LAST member (rank = count-1) is the truncated row
      "m9_gzip_members" ->
        ("WITH d AS (SELECT doc_id, doc_id % 16 AS segment_id, " +
          "'https://' || CASE WHEN doc_id % 10 < 3 THEN 'big.example.com' " +
          "ELSE 'h' || (doc_id % 97) || '.example.com' END || '/doc/' || doc_id AS url, " +
          "text FROM documents), " +
          "r AS (SELECT *, 'WARC/1.0' || chr(13) || chr(10) || 'WARC-Target-URI: ' || url || " +
          "chr(13) || chr(10) || 'Content-Length: ' || strlen(text) || " +
          "chr(13) || chr(10) || chr(13) || chr(10) || text || " +
          "chr(13) || chr(10) || chr(13) || chr(10) AS rec FROM d), " +
          "o AS (SELECT segment_id, doc_id, " +
          "row_number() OVER (PARTITION BY segment_id ORDER BY doc_id) - 1 AS idx, " +
          "count(*) OVER (PARTITION BY segment_id) AS cnt, " +
          "strlen(rec) AS ulen, md5(rec) AS cmd5 FROM r) " +
          "SELECT segment_id, CAST(idx AS INT) AS member_idx, " +
          "CAST(CASE WHEN segment_id % 4 = 1 AND idx = cnt - 1 THEN 0 ELSE ulen END AS BIGINT) AS uncompressed_len, " +
          "CASE WHEN segment_id % 4 = 1 AND idx = cnt - 1 THEN NULL ELSE cmd5 END AS content_md5, " +
          "CASE WHEN segment_id % 4 = 1 AND idx = cnt - 1 THEN 'truncated' ELSE 'ok' END AS status " +
          "FROM o"),
      // m8 oracle: audio params arithmetic from doc_id; duration is the
      // same integer division the parser performs
      "m8_wav_headers" ->
        ("SELECT doc_id, " +
          "CASE WHEN doc_id % 5 IN (0,1,2) THEN CAST(1 + doc_id % 2 AS INT) END AS channels, " +
          "CASE WHEN doc_id % 5 IN (0,1,2) THEN CAST(8000 * (1 + doc_id % 4) AS INT) END AS sample_rate, " +
          "CASE WHEN doc_id % 5 IN (0,1,2) THEN CAST(16 AS INT) END AS bits, " +
          "CASE WHEN doc_id % 5 IN (0,1,2) THEN CAST((100 + doc_id % 50) * (1 + doc_id % 2) * 2 AS BIGINT) END AS data_bytes, " +
          "CASE WHEN doc_id % 5 IN (0,1,2) THEN CAST((1000 * (100 + doc_id % 50) * (1 + doc_id % 2) * 2) // " +
          "(8000 * (1 + doc_id % 4) * (1 + doc_id % 2) * 2) AS BIGINT) END AS duration_ms, " +
          "CASE doc_id % 5 WHEN 3 THEN 'truncated' WHEN 4 THEN 'unknown' ELSE 'ok' END AS status " +
          "FROM documents"),
      // m12 oracle: the decoded body REBUILT in SQL (the m9 rule — the
      // oracle never sees wire bytes, it derives the content and checks
      // the decoder's md5 against it), chunk/trailer counts arithmetic
      // from doc_id
      "m12_chunked_decode" ->
        ("WITH body AS (SELECT doc_id, CASE doc_id % 6 " +
          "WHEN 0 THEN 'p0:' || doc_id || ';p1:' || doc_id || ';' || " +
          "CASE WHEN doc_id % 3 >= 1 THEN 'p2:' || doc_id || ';' ELSE '' END || " +
          "CASE WHEN doc_id % 3 = 2 THEN 'p3:' || doc_id || ';' ELSE '' END " +
          "WHEN 1 THEN 'p0:' || doc_id || ';' " +
          "WHEN 2 THEN 'p0:' || doc_id || ';p1:' || doc_id || ';' END AS s " +
          "FROM documents) " +
          "SELECT doc_id, " +
          "CASE doc_id % 6 WHEN 0 THEN CAST(2 + doc_id % 3 AS INT) WHEN 1 THEN 1 WHEN 2 THEN 2 END AS n_chunks, " +
          "CASE WHEN doc_id % 6 IN (0,1,2) THEN CAST(length(s) AS BIGINT) END AS body_len, " +
          "CASE WHEN doc_id % 6 IN (0,1,2) THEN md5(s) END AS body_md5, " +
          "CASE doc_id % 6 WHEN 0 THEN 0 WHEN 1 THEN 0 WHEN 2 THEN 2 END AS n_trailers, " +
          "CASE doc_id % 6 WHEN 3 THEN 'truncated' WHEN 4 THEN 'malformed' WHEN 5 THEN 'malformed' ELSE 'ok' END AS status " +
          "FROM body"),
      // m11 oracle: brand/timescale/duration/tracks arithmetic from
      // doc_id; a MATCH proves the walker and the byte builder agree on
      // largesize, size==0, mvhd v0-vs-v1 widths, and the integer-ms
      // division — v1's duration exceeds 2^32, so a v0-width misread
      // cannot hash-match
      "m11_mp4_headers" ->
        ("SELECT doc_id, " +
          "CASE WHEN doc_id % 6 = 4 THEN NULL WHEN doc_id % 6 = 1 THEN 'mp42' ELSE 'isom' END AS brand, " +
          "CASE WHEN doc_id % 6 IN (0,1,2,5) THEN CAST(600 * (1 + doc_id % 4) AS INT) END AS timescale, " +
          "CASE WHEN doc_id % 6 IN (0,2,5) THEN CAST((1000 * (6000 + doc_id % 5000)) // (600 * (1 + doc_id % 4)) AS BIGINT) " +
          "WHEN doc_id % 6 = 1 THEN CAST((1000 * (5000000000 + doc_id % 1000)) // (600 * (1 + doc_id % 4)) AS BIGINT) END AS duration_ms, " +
          "CASE WHEN doc_id % 6 = 0 THEN CAST(1 + doc_id % 3 AS INT) " +
          "WHEN doc_id % 6 IN (1,2,5) THEN CAST(1 AS INT) END AS n_tracks, " +
          "CASE doc_id % 6 WHEN 3 THEN 'truncated' WHEN 4 THEN 'unknown' ELSE 'ok' END AS status " +
          "FROM documents"),
      // m13 oracle: entry rows arithmetic per family — the decoy-comment
      // and zip64 families still parse ok (with the >4GiB size resolved
      // from the extra field), the data-descriptor family reports CD
      // sizes (locals carry zeros), family 4 is the no_eocd marker, and
      // family 5 keeps exactly its one parsed entry as 'truncated'
      "m13_zip_entries" ->
        ("SELECT doc_id, 'ok' AS status, CAST(t.j AS INT) AS idx, " +
          "CASE t.j WHEN 0 THEN 'a' || (doc_id % 9) || '.txt' ELSE 'b' || (doc_id % 9) || '.bin' END AS name, " +
          "CASE t.j WHEN 0 THEN 0 ELSE 8 END AS method, " +
          "CAST(CASE t.j WHEN 0 THEN 7 + doc_id % 3 ELSE 5 + doc_id % 4 END AS BIGINT) AS comp_size, " +
          "CAST(CASE t.j WHEN 0 THEN 7 + doc_id % 3 ELSE 20 + doc_id % 6 END AS BIGINT) AS uncomp_size " +
          "FROM documents, range(2) t(j) WHERE doc_id % 6 = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, 'c' || (doc_id % 9) || '.txt', 0, " +
          "CAST(7 + doc_id % 3 AS BIGINT), CAST(7 + doc_id % 3 AS BIGINT) " +
          "FROM documents WHERE doc_id % 6 = 1 " +
          "UNION ALL SELECT doc_id, 'ok', CAST(t.j AS INT), " +
          "CASE t.j WHEN 0 THEN 'big' || (doc_id % 9) || '.bin' ELSE 's.txt' END, " +
          "CASE t.j WHEN 0 THEN 8 ELSE 0 END, " +
          "CAST(CASE t.j WHEN 0 THEN 1000 + doc_id % 7 ELSE 3 END AS BIGINT), " +
          "CAST(CASE t.j WHEN 0 THEN 5000000000 + doc_id % 9 ELSE 3 END AS BIGINT) " +
          "FROM documents, range(2) t(j) WHERE doc_id % 6 = 2 " +
          "UNION ALL SELECT doc_id, 'ok', CAST(t.j AS INT), " +
          "CASE t.j WHEN 0 THEN 'd0_' || (doc_id % 9) || '.txt' ELSE 'd1.txt' END, " +
          "CASE t.j WHEN 0 THEN 8 ELSE 0 END, " +
          "CAST(CASE t.j WHEN 0 THEN 9 + doc_id % 5 ELSE 4 END AS BIGINT), " +
          "CAST(CASE t.j WHEN 0 THEN 30 + doc_id % 7 ELSE 4 END AS BIGINT) " +
          "FROM documents, range(2) t(j) WHERE doc_id % 6 = 3 " +
          "UNION ALL SELECT doc_id, 'no_eocd', CAST(NULL AS INT), CAST(NULL AS VARCHAR), " +
          "CAST(NULL AS INT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT) " +
          "FROM documents WHERE doc_id % 6 = 4 " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 't' || (doc_id % 9) || '.txt', 0, " +
          "CAST(2 + doc_id % 3 AS BIGINT), CAST(2 + doc_id % 3 AS BIGINT) " +
          "FROM documents WHERE doc_id % 6 = 5"),
      // m14 oracle: every family arithmetic from doc_id — family 1's row
      // carries the >100-char LONGNAME (the 'L' data block, not the
      // header's name field), family 2 joins prefix+'/'+name and its
      // second entry's size only parses via GNU base-256, family 3/5
      // keep exactly the one entry before the bad-checksum / truncated
      // header, family 4 is the not_tar marker
      "m14_tar_entries" ->
        ("SELECT doc_id, 'ok' AS status, CAST(t.j AS INT) AS idx, " +
          "CASE t.j WHEN 0 THEN 'f' || (doc_id % 9) || '.txt' " +
          "WHEN 1 THEN 'g' || (doc_id % 9) || '.bin' ELSE 'd' || (doc_id % 9) || '/' END AS name, " +
          "CASE t.j WHEN 2 THEN '5' ELSE '0' END AS typeflag, " +
          "CAST(CASE t.j WHEN 0 THEN 7 + doc_id % 5 WHEN 1 THEN 20 + doc_id % 7 ELSE 0 END AS BIGINT) AS size " +
          "FROM documents, range(3) t(j) WHERE doc_id % 6 = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, " +
          "'longdir' || (doc_id % 9) || '/' || repeat('x', 100) || '.txt', '0', " +
          "CAST(5 + doc_id % 4 AS BIGINT) FROM documents WHERE doc_id % 6 = 1 " +
          "UNION ALL SELECT doc_id, 'ok', CAST(t.j AS INT), " +
          "CASE t.j WHEN 0 THEN 'p' || (doc_id % 9) || '/sub/file.txt' ELSE 'big.bin' END, '0', " +
          "CAST(CASE t.j WHEN 0 THEN 11 + doc_id % 5 ELSE 300 + doc_id % 50 END AS BIGINT) " +
          "FROM documents, range(2) t(j) WHERE doc_id % 6 = 2 " +
          "UNION ALL SELECT doc_id, 'bad_checksum', 0, 'h' || (doc_id % 9) || '.txt', '0', " +
          "CAST(6 + doc_id % 3 AS BIGINT) FROM documents WHERE doc_id % 6 = 3 " +
          "UNION ALL SELECT doc_id, 'not_tar', CAST(NULL AS INT), CAST(NULL AS VARCHAR), " +
          "CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT) FROM documents WHERE doc_id % 6 = 4 " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 't' || (doc_id % 9) || '.txt', '0', " +
          "CAST(4 + doc_id % 3 AS BIGINT) FROM documents WHERE doc_id % 6 = 5"),
      // m15 oracle: all six families derived arithmetically from doc_id
      // (the m13/m14 pattern) — a MATCH pins endianness, the
      // inline/indirect split, SHORT-width reads on MM, RATIONAL
      // halves, pointer consumption, chaining, cycle and truncation
      "m15_tiff_entries" ->
        ("SELECT doc_id, 'ok' AS status, 0 AS ifd, CAST(t.j AS INT) AS idx, " +
          "CAST(CASE t.j WHEN 0 THEN 256 WHEN 1 THEN 257 ELSE 271 END AS INT) AS tag, " +
          "CAST(CASE t.j WHEN 2 THEN 2 ELSE 3 END AS INT) AS ftype, " +
          "CAST(CASE t.j WHEN 2 THEN 8 ELSE 1 END AS BIGINT) AS cnt, " +
          "CAST(CASE t.j WHEN 0 THEN 640 + doc_id % 100 WHEN 1 THEN 480 + doc_id % 100 END AS BIGINT) AS value_num, " +
          "CASE WHEN t.j = 2 THEN 'camera' || (doc_id % 9) END AS value_str " +
          "FROM documents, range(3) t(j) WHERE doc_id % 6 = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, CAST(t.j AS INT), " +
          "CAST(CASE t.j WHEN 0 THEN 256 ELSE 282 END AS INT), " +
          "CAST(CASE t.j WHEN 0 THEN 3 ELSE 5 END AS INT), CAST(1 AS BIGINT), " +
          "CAST(CASE t.j WHEN 0 THEN 800 + doc_id % 100 ELSE 72 + doc_id % 10 END AS BIGINT), " +
          "CAST(NULL AS VARCHAR) FROM documents, range(2) t(j) WHERE doc_id % 6 = 1 " +
          "UNION ALL SELECT doc_id, 'ok', " +
          "CAST(CASE t.j WHEN 0 THEN 0 WHEN 1 THEN 100 ELSE 1 END AS INT), 0, " +
          "CAST(CASE t.j WHEN 0 THEN 256 WHEN 1 THEN 34855 ELSE 259 END AS INT), " +
          "CAST(3 AS INT), CAST(1 AS BIGINT), " +
          "CAST(CASE t.j WHEN 0 THEN 1024 + doc_id % 50 WHEN 1 THEN 100 + (doc_id % 8) * 25 ELSE 6 END AS BIGINT), " +
          "CAST(NULL AS VARCHAR) FROM documents, range(3) t(j) WHERE doc_id % 6 = 2 " +
          "UNION ALL SELECT doc_id, 'malformed', 0, 0, 256, 3, 1, " +
          "CAST(555 + doc_id % 9 AS BIGINT), CAST(NULL AS VARCHAR) " +
          "FROM documents WHERE doc_id % 6 = 3 " +
          "UNION ALL SELECT doc_id, 'not_tiff', CAST(NULL AS INT), CAST(NULL AS INT), " +
          "CAST(NULL AS INT), CAST(NULL AS INT), CAST(NULL AS BIGINT), " +
          "CAST(NULL AS BIGINT), CAST(NULL AS VARCHAR) FROM documents WHERE doc_id % 6 = 4 " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 0, 256, 3, 1, " +
          "CAST(320 + doc_id % 100 AS BIGINT), CAST(NULL AS VARCHAR) " +
          "FROM documents WHERE doc_id % 6 = 5"),
      // m16 oracle: chunk offsets chain arithmetically from the two
      // doc_id-derived lengths (tEXt = 1+id%17, IDAT = id%9): IHDR@8,
      // tEXt@33, IDAT@45+tl, IDAT@57+tl+dl, IEND@72+tl+dl; family 1's
      // corrupted tEXt is the one crc_ok=false; families 2 (both
      // truncation variants collapse to the same row) and 3 keep the
      // IHDR prefix; 4 is the not_png marker; 5 ends no_iend
      "m16_png_chunks" ->
        ("WITH ids AS (SELECT doc_id, doc_id % 6 AS f, " +
          "CAST(1 + doc_id % 17 AS INT) AS tl, CAST(doc_id % 9 AS INT) AS dl " +
          "FROM documents) " +
          "SELECT doc_id, status, CAST(idx AS INT) AS idx, CAST(o AS BIGINT) AS c_off, " +
          "ctype, CAST(ln AS INT) AS clen, CAST(crc_ok AS INT) AS crc_ok, " +
          "CAST(critical AS INT) AS critical FROM ( " +
          "SELECT doc_id, 'ok' AS status, 0 AS idx, 8 AS o, 'IHDR' AS ctype, " +
          "13 AS ln, 1 AS crc_ok, 1 AS critical FROM ids WHERE f IN (0, 1) " +
          "UNION ALL SELECT doc_id, 'ok', 1, 33, 'tEXt', tl, CASE WHEN f = 0 THEN 1 ELSE 0 END, 0 FROM ids WHERE f IN (0, 1) " +
          "UNION ALL SELECT doc_id, 'ok', 2, 45 + tl, 'IDAT', dl, 1, 1 FROM ids WHERE f IN (0, 1) " +
          "UNION ALL SELECT doc_id, 'ok', 3, 57 + tl + dl, 'IDAT', 3, 1, 1 FROM ids WHERE f IN (0, 1) " +
          "UNION ALL SELECT doc_id, 'ok', 4, 72 + tl + dl, 'IEND', 0, 1, 1 FROM ids WHERE f IN (0, 1) " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 8, 'IHDR', 13, 1, 1 FROM ids WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'malformed', 0, 8, 'IHDR', 13, 1, 1 FROM ids WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'not_png', NULL, NULL, NULL, NULL, NULL, NULL FROM ids WHERE f = 4 " +
          "UNION ALL SELECT doc_id, 'no_iend', 0, 8, 'IHDR', 13, 1, 1 FROM ids WHERE f = 5 " +
          "UNION ALL SELECT doc_id, 'no_iend', 1, 33, 'tEXt', tl, 1, 0 FROM ids WHERE f = 5)"),
      // m17 oracle: segment offsets chain arithmetically from the three
      // doc_id-derived lengths (APP0 body al = 1+id%17, COM extra
      // cl = id%9, entropy run el = 5+id%13): APP0@2, COM@6+al (body
      // opens with the planted FF D8 — its declared length cl+4 is what
      // the walk must step over), SOF0@12+al+cl, SOS@31+al+cl with
      // ecs 2+el (stuffed FF00 + fill), RST0@47+al+cl+el with ecs 3,
      // EOI@52+al+cl+el; families 1/3 collapse to the same malformed
      // prefix, family 2's two truncation variants to one row pair
      "m17_jpeg_segments" ->
        ("WITH ids AS (SELECT doc_id, doc_id % 6 AS f, " +
          "CAST(1 + doc_id % 17 AS INT) AS al, CAST(doc_id % 9 AS INT) AS cl, " +
          "CAST(5 + doc_id % 13 AS INT) AS el FROM documents) " +
          "SELECT doc_id, status, CAST(idx AS INT) AS idx, CAST(o AS BIGINT) AS m_off, " +
          "marker, CAST(sl AS INT) AS seg_len, CAST(ecs AS INT) AS ecs_len FROM ( " +
          "SELECT doc_id, 'ok' AS status, 0 AS idx, 0 AS o, 'SOI' AS marker, " +
          "NULL AS sl, NULL AS ecs FROM ids WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 2, 'APP0', al + 2, NULL FROM ids WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 6 + al, 'COM', cl + 4, NULL FROM ids WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 3, 12 + al + cl, 'SOF0', 17, NULL FROM ids WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 4, 31 + al + cl, 'SOS', 12, 2 + el FROM ids WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 5, 47 + al + cl + el, 'RST0', NULL, 3 FROM ids WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 6, 52 + al + cl + el, 'EOI', NULL, NULL FROM ids WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'malformed', 0, 0, 'SOI', NULL, NULL FROM ids WHERE f IN (1, 3) " +
          "UNION ALL SELECT doc_id, 'malformed', 1, 2, 'APP0', al + 2, NULL FROM ids WHERE f IN (1, 3) " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 0, 'SOI', NULL, NULL FROM ids WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'truncated', 1, 2, 'APP0', al + 2, NULL FROM ids WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'not_jpeg', NULL, NULL, NULL, NULL, NULL FROM ids WHERE f = 4 " +
          "UNION ALL SELECT doc_id, 'no_eoi', 0, 0, 'SOI', NULL, NULL FROM ids WHERE f = 5 " +
          "UNION ALL SELECT doc_id, 'no_eoi', 1, 2, 'APP0', al + 2, NULL FROM ids WHERE f = 5 " +
          "UNION ALL SELECT doc_id, 'no_eoi', 2, 6 + al, 'SOF0', 17, NULL FROM ids WHERE f = 5 " +
          "UNION ALL SELECT doc_id, 'no_eoi', 3, 25 + al, 'SOS', 12, 2 + el FROM ids WHERE f = 5)"),
      // m18 oracle: frame lengths re-derived from the same bitrate/
      // samplerate tables as SQL CASEs (base = 144000*br // sr, + pad),
      // offsets chained cumulatively; the ID3v2 row's length is the
      // syncsafe-decoded 10+ts; families 2/3/5 share the one-frame
      // prefix row under their distinct statuses
      "m18_mp3_frames" ->
        ("WITH ids AS (SELECT doc_id, doc_id % 6 AS f, " +
          "CASE (1 + doc_id % 14) WHEN 1 THEN 32 WHEN 2 THEN 40 WHEN 3 THEN 48 " +
          "WHEN 4 THEN 56 WHEN 5 THEN 64 WHEN 6 THEN 80 WHEN 7 THEN 96 " +
          "WHEN 8 THEN 112 WHEN 9 THEN 128 WHEN 10 THEN 160 WHEN 11 THEN 192 " +
          "WHEN 12 THEN 224 WHEN 13 THEN 256 ELSE 320 END AS br, " +
          "CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 ELSE 32000 END AS sr, " +
          "CAST(doc_id % 2 AS INT) AS p0, CAST((doc_id + 1) % 2 AS INT) AS p1, " +
          "CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS crc, " +
          "CAST(138 + doc_id % 60 AS INT) AS tl FROM documents), " +
          "c AS (SELECT *, (144000 * br) // sr AS bs FROM ids) " +
          "SELECT doc_id, status, CAST(idx AS INT) AS idx, CAST(o AS BIGINT) AS f_off, " +
          "kind, CAST(br2 AS INT) AS br_kbps, CAST(sr2 AS INT) AS sr_hz, " +
          "CAST(pd AS INT) AS pad, CAST(fl AS INT) AS flen, CAST(cr AS INT) AS crc FROM ( " +
          "SELECT doc_id, 'ok' AS status, 0 AS idx, 0 AS o, 'id3v2' AS kind, " +
          "NULL AS br2, NULL AS sr2, NULL AS pd, tl AS fl, NULL AS cr FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 1, tl, 'frame', br, sr, p0, bs + p0, crc FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 2, tl + bs + p0, 'frame', br, sr, p1, bs + p1, crc FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 3, tl + 2 * bs + p0 + p1, 'frame', br, sr, p0, bs + p0, crc FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, 0, 'frame', br, sr, p0, bs + p0, crc FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 1, bs + p0, 'frame', br, sr, p1, bs + p1, crc FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 2 * bs + p0 + p1, 'id3v1', NULL, NULL, NULL, 128, NULL FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 0, 'frame', br, sr, p0, bs + p0, crc FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'malformed', 0, 0, 'frame', br, sr, p0, bs + p0, crc FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'not_mp3', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM c WHERE f = 4 " +
          "UNION ALL SELECT doc_id, 'free_bitrate', 0, 0, 'frame', br, sr, p0, bs + p0, crc FROM c WHERE f = 5)"),
      // m23 oracle: container geometry arithmetic (n = 12+p+fl for the
      // valid family; footer_off = 4+p), verdicts per family
      // m27 oracle: per-family geometry (chunk = 8 + len + len%2 pad)
      // and the shared w/h formulas across all three codecs — a MATCH
      // pins the u16le, packed-14-bit, and u24le-minus-one decoders
      // against one another
      "m27_webp_chunks" ->
        ("WITH c AS (SELECT doc_id, doc_id % 6 AS f, " +
          "CAST(160 + doc_id % 100 AS INT) AS w, CAST(120 + doc_id % 80 AS INT) AS h, " +
          "doc_id % 13 AS jj, doc_id % 7 AS ee, " +
          "CAST(length('plain text payload ' || doc_id) AS INT) AS pl FROM documents) " +
          "SELECT doc_id, status, format, width, height, n_chunks, n_bytes FROM ( " +
          "SELECT doc_id, 'ok' AS status, 'lossy' AS format, w AS width, h AS height, " +
          "1 AS n_chunks, CAST(40 + jj + jj % 2 AS INT) AS n_bytes FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 'lossless', w, h, 1, CAST(35 + jj + (jj + 1) % 2 AS INT) FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 'extended', w, h, 2, CAST(43 + ee + (ee + 1) % 2 AS INT) FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'not_webp', NULL, NULL, NULL, NULL, pl FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'truncated', NULL, NULL, NULL, NULL, 24 FROM c WHERE f = 4 " +
          "UNION ALL SELECT doc_id, 'malformed', NULL, NULL, NULL, NULL, CAST(40 + jj + jj % 2 AS INT) FROM c WHERE f = 5)"),
      // m26 oracle: family arithmetic — the ok message is 26+v bytes
      // (2-byte varint value, 1-byte tags/lengths at these magnitudes),
      // empty message ok with 0 fields and NULL max_field_no, the
      // truncated families all-null, the group-type family keeps its
      // one pre-fault varint field
      "m26_proto_fields" ->
        ("WITH c AS (SELECT doc_id, doc_id % 5 AS f, " +
          "CAST(26 + doc_id % 20 AS INT) AS nb FROM documents) " +
          "SELECT doc_id, status, n_fields, n_varint, n_len, n_fixed32, " +
          "n_fixed64, max_field_no, n_bytes FROM ( " +
          "SELECT doc_id, 'ok' AS status, 5 AS n_fields, 2 AS n_varint, " +
          "1 AS n_len, 1 AS n_fixed32, 1 AS n_fixed64, " +
          "CAST(5 AS BIGINT) AS max_field_no, nb AS n_bytes FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, 0, 0, 0, 0, NULL, 0 FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'truncated', NULL, NULL, NULL, NULL, NULL, NULL, 5 FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'malformed', 1, 1, 0, 0, 0, 1, 5 FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'truncated', NULL, NULL, NULL, NULL, NULL, NULL, 4 FROM c WHERE f = 4)"),
      // m25 oracle: family arithmetic — ok geometry n = 50+v+p+a with
      // v/p/a from the id formulas, STREAMINFO fields re-derived from
      // the generator's parameters (the walker unpacks them from the
      // packed 64-bit word, so a MATCH pins the bit layout); truncated
      // keeps the parsed STREAMINFO, spec-violation families all-null
      "m25_flac_blocks" ->
        ("WITH c AS (SELECT doc_id, doc_id % 5 AS f, " +
          "CAST(8000 + (doc_id % 8) * 4000 AS INT) AS rate, " +
          "CAST(1 + doc_id % 4 AS INT) AS ch, " +
          "CAST(16 + (doc_id % 2) * 8 AS INT) AS bps, " +
          "CAST(44100 + doc_id % 1000 AS BIGINT) AS tot, " +
          "CAST(20 + doc_id % 30 AS BIGINT) AS a, " +
          "CAST(85 + (doc_id % 20) + (doc_id % 9) + (doc_id % 30) AS INT) AS nb, " +
          "CAST(13 + doc_id % 9 AS INT) AS nb3, " +
          "CAST(length('plain text payload ' || doc_id) AS INT) AS pl FROM documents) " +
          "SELECT doc_id, status, n_blocks, sample_rate, channels, " +
          "bits_per_sample, total_samples, audio_bytes, n_bytes FROM ( " +
          "SELECT doc_id, 'ok' AS status, 3 AS n_blocks, rate AS sample_rate, " +
          "ch AS channels, bps AS bits_per_sample, tot AS total_samples, " +
          "a AS audio_bytes, nb AS n_bytes FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'not_flac', NULL, NULL, NULL, NULL, NULL, NULL, pl FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'truncated', NULL, rate, ch, bps, tot, NULL, 49 FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'missing_streaminfo', NULL, NULL, NULL, NULL, NULL, NULL, nb3 FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'malformed', NULL, NULL, NULL, NULL, NULL, NULL, 28 FROM c WHERE f = 4)"),
      // m24 oracle: per-family geometry arithmetic — gct = 3·2^(s+1),
      // frame = 12 + m·(1+d); truncated keeps width/height (screen
      // descriptor parsed) but withholds counts, malformed keeps the
      // pre-fault tallies
      "m24_gif_blocks" ->
        ("WITH c AS (SELECT doc_id, doc_id % 5 AS f, " +
          "CAST(doc_id % 3 AS INT) AS s, CAST(1 + doc_id % 3 AS INT) AS k, " +
          "CAST(1 + doc_id % 2 AS INT) AS m, CAST(1 + doc_id % 7 AS INT) AS d, " +
          "CAST(100 + doc_id % 50 AS INT) AS w, CAST(80 + doc_id % 40 AS INT) AS h, " +
          "CAST(3 * (1 << (CAST(doc_id % 3 AS INT) + 1)) AS INT) AS g, " +
          "CAST(length('plain text payload ' || doc_id) AS INT) AS pl FROM documents) " +
          "SELECT doc_id, status, width, height, frames, extensions, subblocks, n_bytes FROM ( " +
          "SELECT doc_id, 'ok' AS status, w AS width, h AS height, k AS frames, " +
          "1 AS extensions, 1 + k * m AS subblocks, 22 + g + k * (12 + m * (1 + d)) AS n_bytes " +
          "FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'not_gif', NULL, NULL, NULL, NULL, NULL, pl FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'truncated', w, h, NULL, NULL, NULL, 16 FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'malformed', w, h, 1, 1, 1 + m, " +
          "37 + g + m * (1 + d) FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'ok', w, h, 1, 0, m, 26 + m * (1 + d) FROM c WHERE f = 4)"),
      "m23_parquet_footer" ->
        ("WITH c AS (SELECT doc_id, doc_id % 5 AS f, " +
          "CAST(30 + doc_id % 40 AS BIGINT) AS p, CAST(20 + doc_id % 50 AS BIGINT) AS fl, " +
          "CAST(length('plain text payload ' || doc_id) AS INT) AS pl FROM documents) " +
          "SELECT doc_id, status, CAST(fo2 AS BIGINT) AS footer_len, " +
          "CAST(mo AS BIGINT) AS footer_off, CAST(nb AS INT) AS n_bytes FROM ( " +
          "SELECT doc_id, 'ok' AS status, fl AS fo2, 4 + p AS mo, 12 + p + fl AS nb FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'not_parquet', NULL, NULL, pl FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'malformed', NULL, NULL, 12 + p + fl FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'corrupt_footer', p + fl + 100, NULL, 12 + p + fl FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'truncated', NULL, NULL, 4 + least(7, p) FROM c WHERE f = 4)"),
      // m22 oracle: record geometry (16 + len per record) and payload
      // md5s re-derived in SQL — the corrupted family's md5 is the md5
      // of the FLIPPED payload ('c' || 'b'*(r2-1)), so a MATCH pins
      // that the walker reads the actual bytes, and the crc-verdict
      // split (halt vs continue) is pinned by which rows exist
      "m22_tfrecord_records" ->
        ("WITH c AS (SELECT doc_id, doc_id % 5 AS f, " +
          "CAST(8 + doc_id % 40 AS INT) AS r1, CAST(5 + doc_id % 25 AS INT) AS r2, " +
          "CAST(3 + doc_id % 10 AS INT) AS r3 FROM documents) " +
          "SELECT doc_id, status, CAST(idx AS INT) AS idx, CAST(o AS BIGINT) AS r_off, " +
          "CAST(ln AS BIGINT) AS rec_len, CAST(lc AS INT) AS len_crc_ok, " +
          "CAST(dc AS INT) AS data_crc_ok, h AS payload_md5 FROM ( " +
          "SELECT doc_id, 'ok' AS status, 0 AS idx, 0 AS o, r1 AS ln, 1 AS lc, 1 AS dc, " +
          "md5(repeat('a', r1)) AS h FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 16 + r1, r2, 1, 1, md5(repeat('b', r2)) FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 32 + r1 + r2, r3, 1, 1, md5(repeat('c', r3)) FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, 0, r1, 1, 1, md5(repeat('a', r1)) FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 16 + r1, r2, 1, 0, md5('c' || repeat('b', r2 - 1)) FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 32 + r1 + r2, r3, 1, 1, md5(repeat('c', r3)) FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'corrupt_len', 0, 0, r1, 1, 1, md5(repeat('a', r1)) FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 0, r1, 1, 1, md5(repeat('a', r1)) FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'truncated', NULL, NULL, NULL, NULL, NULL, NULL FROM c WHERE f = 4)"),
      // m29 oracle: line geometry from doc_id arithmetic (line i is
      // 17 + len(str(id)) + k_i bytes), payload md5s rebuilt from the
      // exact line strings in SQL — the truncated family's md5 is the
      // md5 of the CHOPPED line, so a MATCH pins byte-exact framing;
      // kinds/valid pin the validator's verdicts per family
      "m29_jsonl_records" ->
        ("""WITH c AS (SELECT doc_id, doc_id % 5 AS f, CAST(length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS sl, """ +
          """CAST(5 + doc_id % 20 AS BIGINT) AS k0, CAST(5 + (doc_id+1) % 20 AS BIGINT) AS k1, CAST(5 + (doc_id+2) % 20 AS BIGINT) AS k2 FROM documents), """ +
          """b AS (SELECT doc_id, f, k0, k1, k2, 17 + sl + k0 AS l0, 17 + sl + k1 AS l1, 17 + sl + k2 AS l2, """ +
          """'{"id":' || doc_id || ',"text":"' AS pre FROM c), """ +
          """fy AS (SELECT '{"k":"a\"b\\c","l":[1,-2.5e3,{"m":null},true,false],"u":"A"}' AS fancy) """ +
          """SELECT doc_id, CAST(idx AS INT) AS idx, CAST(o AS BIGINT) AS l_off, CAST(ln AS BIGINT) AS l_len, """ +
          """kind, CAST(v AS INT) AS valid, h AS payload_md5 FROM ( """ +
          """SELECT doc_id, 0 AS idx, 0 AS o, l0 AS ln, 'object' AS kind, 1 AS v, md5(pre || repeat('a', k0) || '"}') AS h FROM b WHERE f = 0 """ +
          """UNION ALL SELECT doc_id, 1, l0 + 1, l1, 'object', 1, md5(pre || repeat('b', k1) || '"}') FROM b WHERE f = 0 """ +
          """UNION ALL SELECT doc_id, 2, l0 + l1 + 2, l2, 'object', 1, md5(pre || repeat('c', k2) || '"}') FROM b WHERE f = 0 """ +
          """UNION ALL SELECT doc_id, 0, 0, l0, 'object', 1, md5(pre || repeat('a', k0) || '"}') FROM b WHERE f = 1 """ +
          """UNION ALL SELECT doc_id, 1, l0 + 1, l1 - 2, 'object', 0, md5(pre || repeat('b', k1)) FROM b WHERE f = 1 """ +
          """UNION ALL SELECT doc_id, 2, l0 + l1, l2, 'object', 1, md5(pre || repeat('c', k2) || '"}') FROM b WHERE f = 1 """ +
          """UNION ALL SELECT doc_id, 0, 0, l0, 'object', 1, md5(pre || repeat('a', k0) || '"}') FROM b WHERE f = 2 """ +
          """UNION ALL SELECT doc_id, 1, l0 + 1, l1, 'object', 1, md5(pre || repeat('b', k1) || '"}') FROM b WHERE f = 2 """ +
          """UNION ALL SELECT doc_id, 0, 0, length(fancy), 'object', 1, md5(fancy) FROM b, fy WHERE f = 3 """ +
          """UNION ALL SELECT doc_id, 1, length(fancy) + 1, 7, 'array', 1, md5('[1,2,3]') FROM b, fy WHERE f = 3 """ +
          """UNION ALL SELECT doc_id, 0, 0, l0, 'object', 1, md5(pre || repeat('a', k0) || '"}') FROM b WHERE f = 4 """ +
          """UNION ALL SELECT doc_id, 1, l0 + 1, 0, 'blank', 0, md5('') FROM b WHERE f = 4 """ +
          """UNION ALL SELECT doc_id, 2, l0 + 2, l2, 'object', 1, md5(pre || repeat('c', k2) || '"}') FROM b WHERE f = 4)"""),
      // m30 oracle: every field re-derived arithmetically per family —
      // header lengths from the SAME dict-literal text + the 64-byte
      // alignment formula ((pre + len + 1 + 63) // 64)*64 - pre, so a
      // MATCH pins the walker's length math, both version branches,
      // all three shape arities, and the NULL ladder
      "m30_npy_headers" ->
        ("""WITH c AS (SELECT doc_id, doc_id % 6 AS f, """ +
          """CAST(2 + doc_id % 7 AS BIGINT) AS k0, CAST(1 + doc_id % 5 AS BIGINT) AS k1 FROM documents), """ +
          """d AS (SELECT *, """ +
          """length('{''descr'': ''<f8'', ''fortran_order'': False, ''shape'': (' || k0 || ', ' || k1 || '), }') AS l0, """ +
          """length('{''descr'': ''<i4'', ''fortran_order'': False, ''shape'': (' || k0 || ',), }') AS l1, """ +
          """length('{''descr'': ''<f8'', ''fortran_order'': False, ''shape'': (' || (1000 + k0) || ',), }') AS l3, """ +
          """length('{''descr'': ''<f8'', ''fortran_order'': False, ''shape'': (' || k0 || ',), }') AS l4, """ +
          """length('{''descr'': ''|u1'', ''fortran_order'': False, ''shape'': (), }') AS l5 FROM c), """ +
          """h AS (SELECT *, ((10 + l0 + 1 + 63) // 64) * 64 - 10 AS h0, """ +
          """((12 + l1 + 1 + 63) // 64) * 64 - 12 AS h1, """ +
          """((10 + l3 + 1 + 63) // 64) * 64 - 10 AS h3, """ +
          """((10 + l4 + 1 + 63) // 64) * 64 - 10 AS h4, """ +
          """((10 + l5 + 1 + 63) // 64) * 64 - 10 AS h5 FROM d) """ +
          """SELECT doc_id, status, version, descr, fortran, CAST(n_dims AS INT) AS n_dims, """ +
          """CAST(n_elems AS BIGINT) AS n_elems, CAST(item_size AS INT) AS item_size, """ +
          """CAST(header_len AS BIGINT) AS header_len, CAST(data_len AS BIGINT) AS data_len FROM ( """ +
          """SELECT doc_id, 'ok' AS status, '1.0' AS version, '<f8' AS descr, FALSE AS fortran, """ +
          """2 AS n_dims, k0*k1 AS n_elems, 8 AS item_size, h0 AS header_len, 8*k0*k1 AS data_len FROM h WHERE f = 0 """ +
          """UNION ALL SELECT doc_id, 'ok', '2.0', '<i4', FALSE, 1, k0, 4, h1, 4*k0 FROM h WHERE f = 1 """ +
          """UNION ALL SELECT doc_id, 'not_npy', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM h WHERE f = 2 """ +
          """UNION ALL SELECT doc_id, 'short_data', '1.0', '<f8', FALSE, 1, 1000+k0, 8, h3, 3 FROM h WHERE f = 3 """ +
          """UNION ALL SELECT doc_id, 'truncated_header', '1.0', NULL, NULL, NULL, NULL, NULL, h4, NULL FROM h WHERE f = 4 """ +
          """UNION ALL SELECT doc_id, 'ok', '1.0', '|u1', FALSE, 0, 1, 1, h5, 1 FROM h WHERE f = 5)"""),
      // m31 oracle: every field re-derived arithmetically per family —
      // header lengths from the SAME JSON text + the 8-byte alignment
      // formula ((8 + len + 7) // 8)*8 - 8, so a MATCH pins the u64-LE
      // length read, the JSON scan, per-tensor row order, the size
      // arithmetic, and the NULL ladder
      "m31_safetensors_headers" ->
        ("""WITH c AS (SELECT doc_id, doc_id % 6 AS f, """ +
          """CAST(2 + doc_id % 7 AS BIGINT) AS k0, CAST(1 + doc_id % 5 AS BIGINT) AS k1 FROM documents), """ +
          """d AS (SELECT *, 4*k0*k1 AS e0, """ +
          """length('{"emb":{"dtype":"F32","shape":[' || k0 || ',' || k1 || '],"data_offsets":[0,' || (4*k0*k1) || ']},"ids":{"dtype":"I64","shape":[' || k0 || '],"data_offsets":[' || (4*k0*k1) || ',' || (4*k0*k1 + 8*k0) || ']},"__metadata__":{"format":"graft"}}') AS l0, """ +
          """length('{"w":{"dtype":"F16","shape":[' || k1 || '],"data_offsets":[0,' || (2*k1) || ']}}') AS l1, """ +
          """length('{"w":{"dtype":"F32","shape":[') AS l3, """ +
          """length('{"w":{"dtype":"F32","shape":[' || k0 || '],"data_offsets":[0,' || (4*k0 + 1) || ']}}') AS l4, """ +
          """length('{"s":{"dtype":"F64","shape":[],"data_offsets":[0,8]}}') AS l5 FROM c), """ +
          """h AS (SELECT *, ((8 + l0 + 7) // 8) * 8 - 8 AS h0, """ +
          """((8 + l1 + 7) // 8) * 8 - 8 AS h1, """ +
          """((8 + l4 + 7) // 8) * 8 - 8 AS h4, """ +
          """((8 + l5 + 7) // 8) * 8 - 8 AS h5 FROM d) """ +
          """SELECT doc_id, status, name, dtype, CAST(n_dims AS INT) AS n_dims, """ +
          """CAST(n_elems AS BIGINT) AS n_elems, CAST(item_size AS INT) AS item_size, """ +
          """CAST(off_begin AS BIGINT) AS off_begin, CAST(off_end AS BIGINT) AS off_end, """ +
          """CAST(header_len AS BIGINT) AS header_len, CAST(data_len AS BIGINT) AS data_len FROM ( """ +
          """SELECT doc_id, 'ok' AS status, 'emb' AS name, 'F32' AS dtype, 2 AS n_dims, """ +
          """k0*k1 AS n_elems, 4 AS item_size, 0 AS off_begin, e0 AS off_end, h0 AS header_len, e0 + 8*k0 AS data_len FROM h WHERE f = 0 """ +
          """UNION ALL SELECT doc_id, 'ok', 'ids', 'I64', 1, k0, 8, e0, e0 + 8*k0, h0, e0 + 8*k0 FROM h WHERE f = 0 """ +
          """UNION ALL SELECT doc_id, 'ok', 'w', 'F16', 1, k1, 2, 0, 2*k1, h1, 2*k1 FROM h WHERE f = 1 """ +
          """UNION ALL SELECT doc_id, 'bad_header_len', NULL, NULL, NULL, NULL, NULL, NULL, NULL, 1000 + k0, NULL FROM h WHERE f = 2 """ +
          """UNION ALL SELECT doc_id, 'bad_json', NULL, NULL, NULL, NULL, NULL, NULL, NULL, l3, NULL FROM h WHERE f = 3 """ +
          """UNION ALL SELECT doc_id, 'bad_schema', NULL, NULL, NULL, NULL, NULL, NULL, NULL, h4, NULL FROM h WHERE f = 4 """ +
          """UNION ALL SELECT doc_id, 'short_data', 's', 'F64', 0, 1, 8, 0, 8, h5, 3 FROM h WHERE f = 5)"""),
      // m28 oracle: block geometry from doc_id arithmetic — header is
      // 58 bytes in the positive-count metadata form ('null' codec) and
      // 62 in the negative-count form ('deflate'), each block advances
      // 18+s (two 1-byte varints + payload + 16-byte sync); payload
      // md5s re-derived in SQL; the sync-flip family pins flag+continue,
      // the size-past-EOF family pins the halt
      "m28_avro_blocks" ->
        ("WITH c AS (SELECT doc_id, doc_id % 5 AS f, " +
          "CAST(10 + doc_id % 50 AS BIGINT) AS s0, CAST(10 + (doc_id+1) % 50 AS BIGINT) AS s1, " +
          "CAST(10 + (doc_id+2) % 50 AS BIGINT) AS s2, " +
          "CAST(1 + doc_id % 7 AS BIGINT) AS o0, CAST(1 + (doc_id+1) % 7 AS BIGINT) AS o1, " +
          "CAST(1 + (doc_id+2) % 7 AS BIGINT) AS o2 FROM documents) " +
          "SELECT doc_id, status, codec, CAST(idx AS INT) AS idx, CAST(b_off AS BIGINT) AS b_off, " +
          "CAST(no AS BIGINT) AS n_objects, CAST(nb AS BIGINT) AS n_bytes, " +
          "CAST(so AS INT) AS sync_ok, h AS payload_md5 FROM ( " +
          "SELECT doc_id, 'ok' AS status, 'null' AS codec, 0 AS idx, 58 AS b_off, o0 AS no, s0 AS nb, 1 AS so, md5(repeat('a', s0)) AS h FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 'null', 1, 76 + s0, o1, s1, 1, md5(repeat('b', s1)) FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 'deflate', 0, 62, o0, s0, 1, md5(repeat('a', s0)) FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 'deflate', 1, 80 + s0, o1, s1, 0, md5(repeat('b', s1)) FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 'deflate', 2, 98 + s0 + s1, o2, s2, 1, md5(repeat('c', s2)) FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'not_avro', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'truncated', 'null', 0, 58, o0, s0, 1, md5(repeat('a', s0)) FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'truncated', 'null', NULL, NULL, NULL, NULL, NULL, NULL FROM c WHERE f = 4)"),
      // m21 oracle: page geometry arithmetic from doc_id (offsets,
      // lacing sums, packet counts from the 255-run rule); crc_ok is 1
      // except the deliberately-corrupted family — a MATCH pins that
      // the walker's direct-polynomial CRC flags exactly that family
      "m21_ogg_pages" ->
        ("WITH c AS (SELECT doc_id, doc_id % 5 AS f, " +
          "CAST(10 + doc_id % 50 AS INT) AS l1, CAST(5 + doc_id % 20 AS INT) AS l2, " +
          "CAST(7 + doc_id % 40 AS INT) AS r, CAST(3 + doc_id % 30 AS INT) AS l3, " +
          "CAST(doc_id % 1000 AS BIGINT) AS gran, CAST(doc_id % 97 AS BIGINT) AS ser FROM documents) " +
          "SELECT doc_id, status, CAST(idx AS INT) AS idx, CAST(o AS BIGINT) AS p_off, " +
          "CAST(fl AS INT) AS flags, CAST(gr AS BIGINT) AS granule, CAST(se AS BIGINT) AS serial, " +
          "CAST(sq AS BIGINT) AS seq, CAST(ns AS INT) AS n_segs, CAST(bo AS INT) AS body_len, " +
          "CAST(pk AS INT) AS n_packets, CAST(ck AS INT) AS crc_ok FROM ( " +
          "SELECT doc_id, 'ok' AS status, 0 AS idx, 0 AS o, 2 AS fl, gran AS gr, ser AS se, " +
          "0 AS sq, 2 AS ns, l1 + l2 AS bo, 2 AS pk, 1 AS ck FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 29 + l1 + l2, 4, gran, ser, 1, 2, 255 + r, 1, 1 FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, 0, 2, gran, ser, 0, 3, 510 + l3, 1, 0 FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'truncated', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'malformed', 0, 0, 2, gran, ser, 0, 1, l1, 1, 1 FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'not_ogg', NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM c WHERE f = 4)"),
      // m20 oracle: offsets chained arithmetically from the five
      // doc_id-derived lengths — a MATCH pins VINT width-by-marker
      // decoding (1/2/4-byte IDs, 1- and non-minimal 4-byte sizes),
      // the unknown-size-to-EOF Segment path, and the descent policy
      "m20_ebml_elements" ->
        ("WITH c AS (SELECT doc_id, doc_id % 6 AS f, " +
          "CAST(11 + doc_id % 16 AS BIGINT) AS dc, CAST(5 + doc_id % 20 AS BIGINT) AS i1, " +
          "CAST(9 + doc_id % 30 AS BIGINT) AS c1, CAST(4 + doc_id % 10 AS BIGINT) AS c2, " +
          "CAST(3 + doc_id % 5 AS BIGINT) AS v1 FROM documents) " +
          "SELECT doc_id, status, CAST(idx AS INT) AS idx, CAST(o AS BIGINT) AS e_off, " +
          "CAST(lvl AS INT) AS level, id_hex, CAST(sz AS BIGINT) AS esize, " +
          "CAST(hl AS INT) AS hdr_len FROM ( " +
          "SELECT doc_id, 'ok' AS status, 0 AS idx, 0 AS o, 0 AS lvl, " +
          "'1A45DFA3' AS id_hex, dc AS sz, 5 AS hl FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 5 + dc, 0, '18538067', 10 + i1 + c1, 5 FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 10 + dc, 1, '1549A966', i1, 5 FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 3, 15 + dc + i1, 1, '1F43B675', c1, 5 FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, 0, 0, '1A45DFA3', dc, 5 FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 5 + dc, 0, '18538067', NULL, 5 FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 10 + dc, 1, '1F43B675', c1, 5 FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 3, 15 + dc + c1, 1, '1F43B675', c2, 5 FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 0, 0, '1A45DFA3', dc, 5 FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'truncated', 1, 5 + dc, 0, '18538067', 5 + c1, 5 FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'malformed', 0, 0, 0, '1A45DFA3', dc, 5 FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'malformed', 1, 5 + dc, 0, '18538067', 6 + i1, 5 FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'malformed', 2, 10 + dc, 1, '1549A966', i1, 5 FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'not_ebml', NULL, NULL, NULL, NULL, NULL, NULL FROM c WHERE f = 4 " +
          "UNION ALL SELECT doc_id, 'ok', 0, 0, 0, '1A45DFA3', dc, 5 FROM c WHERE f = 5 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 5 + dc, 0, '4286', v1, 3 FROM c WHERE f = 5 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 8 + dc + v1, 0, '18538067', 8 + i1, 5 FROM c WHERE f = 5 " +
          "UNION ALL SELECT doc_id, 'ok', 3, 13 + dc + v1, 1, '1549A966', i1, 8 FROM c WHERE f = 5)"),
      // m19 oracle: offsets chained arithmetically from the doc_id-
      // derived block lengths — a MATCH pins the computed header
      // length (descriptor-bit arithmetic), the RLE one-byte
      // consumption, the skippable skip, and the 2-byte FCS +256 bias
      "m19_zstd_frames" ->
        ("WITH c AS (SELECT doc_id, doc_id % 6 AS f, " +
          "CAST(16 + doc_id % 32 AS INT) AS r1, CAST(8 + doc_id % 16 AS INT) AS r2, " +
          "CAST(64 + doc_id % 100 AS INT) AS rc, CAST(4 + doc_id % 8 AS INT) AS sk, " +
          "CAST(10 + doc_id % 50 AS INT) AS raw1, CAST(5 + doc_id % 10 AS INT) AS r3, " +
          "CAST(7 + doc_id % 12 AS INT) AS r4 FROM documents) " +
          "SELECT doc_id, status, CAST(idx AS INT) AS idx, CAST(o AS BIGINT) AS z_off, " +
          "kind, btype, CAST(bs AS INT) AS bsize, CAST(la AS INT) AS last, " +
          "CAST(fc AS BIGINT) AS fcs FROM ( " +
          "SELECT doc_id, 'ok' AS status, 0 AS idx, 0 AS o, 'frame' AS kind, " +
          "NULL AS btype, 9 AS bs, NULL AS la, 256 + r1 + r2 + rc AS fc FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 9, 'block', 'raw', r1, 0, NULL FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 12 + r1, 'block', 'compressed', r2, 0, NULL FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 3, 15 + r1 + r2, 'block', 'rle', rc, 1, NULL FROM c WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 'ok', 0, 0, 'skippable', NULL, sk, NULL, NULL FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 1, 8 + sk, 'frame', NULL, 6, NULL, raw1 FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 2, 14 + sk, 'block', 'raw', raw1, 1, NULL FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'ok', 3, 17 + sk + raw1, 'checksum', NULL, 4, NULL, NULL FROM c WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 'truncated', 0, 0, 'frame', NULL, 6, NULL, NULL FROM c WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 'malformed', 0, 0, 'frame', NULL, 6, NULL, NULL FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'malformed', 1, 6, 'block', 'raw', r3, 0, NULL FROM c WHERE f = 3 " +
          "UNION ALL SELECT doc_id, 'not_zstd', NULL, NULL, NULL, NULL, NULL, NULL, NULL FROM c WHERE f = 4 " +
          "UNION ALL SELECT doc_id, 'malformed', 0, 0, 'frame', NULL, 6, NULL, NULL FROM c WHERE f = 5 " +
          "UNION ALL SELECT doc_id, 'malformed', 1, 6, 'block', 'raw', r4, 1, NULL FROM c WHERE f = 5)"),
      // m5 oracle: every verdict arithmetic from doc_id (the m3/m4
      // pattern) — a MATCH means the byte builder and the three-rung
      // sniffer agree on BOM precedence, the prescan window bound, and
      // UTF-8 structural validity
      "m5_charset" ->
        ("SELECT doc_id, " +
          "CASE doc_id % 7 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le' END AS bom, " +
          "CASE doc_id % 7 WHEN 2 THEN 'utf-8' WHEN 3 THEN 'iso-8859-1' END AS declared, " +
          "CASE doc_id % 7 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-16le' WHEN 2 THEN 'utf-8' " +
          "WHEN 3 THEN 'iso-8859-1' WHEN 5 THEN 'windows-1252' ELSE 'utf-8' END AS detected, " +
          "CASE WHEN doc_id % 7 IN (1, 5) THEN false ELSE true END AS utf8_valid " +
          "FROM documents"),
      "m1_binary_features" ->
        ("SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes, md5(text) AS content_md5, " +
          "CASE WHEN octet_length(encode(text)) = 0 THEN 'empty' " +
          "WHEN octet_length(encode(text)) % 2 = 0 THEN 'image' ELSE 'audio' END AS modality " +
          "FROM documents"),
      // benchmark decontamination over the probe-augmented corpus:
      // distinct 5-gram md5s per doc, bench set = eval docs' grams,
      // n_hits = |doc grams ∩ bench grams| — mirrors
      // TrainingOps.decontaminate(contAug(docs), doc_id % 61 = 7)
      "d12_decontaminate" ->
        (s"WITH a AS ($contAugSql), " +
          s"f AS (SELECT doc_id, $w AS w FROM a), " +
          "g AS (SELECT doc_id, list_distinct(list_transform(range(len(w)-4), " +
          "i -> md5(array_to_string(w[i+1:i+5], ' ')))) AS g FROM f WHERE len(w) >= 5), " +
          "bench AS (SELECT DISTINCT gh FROM (SELECT unnest(g) AS gh FROM g WHERE doc_id % 61 = 7)), " +
          "tr AS (SELECT doc_id, unnest(g) AS gh FROM g WHERE doc_id % 61 <> 7), " +
          "hits AS (SELECT doc_id, count(*) AS n_hits FROM tr JOIN bench USING (gh) GROUP BY doc_id) " +
          "SELECT b.doc_id, coalesce(h.n_hits, 0::BIGINT) AS n_hits, " +
          "coalesce(h.n_hits, 0::BIGINT) > 0 AS contaminated " +
          "FROM (SELECT doc_id FROM a WHERE doc_id % 61 <> 7) b LEFT JOIN hits h USING (doc_id)"),
      // hash-deterministic stratified sampling: keep iff
      // h60('smp:'||doc_id) mod 1e6 < ratePpm(lang) — mirrors
      // TrainingOps.stratifiedSample(DefaultSampleRatesPpm, 50000)
      "t8_stratified_sample" ->
        ("WITH s AS (SELECT doc_id, lang, " +
          "CAST(('0x' || substr(md5('smp:' || doc_id),1,15))::BIGINT % 1000000 AS INT) AS u_ppm, " +
          "CAST(CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000 WHEN 'es' THEN 250000 " +
          "WHEN 'fr' THEN 125000 WHEN 'zh' THEN 125000 ELSE 50000 END AS INT) AS rate_ppm " +
          "FROM documents) SELECT doc_id, lang, u_ppm, rate_ppm FROM s WHERE u_ppm < rate_ppm"),
      // fractional source mixing: src<k> -> 2*weight = k%5+2, replicate
      // floor(w) times + 1 more iff hash < frac(w) — mirrors sourceMix
      "t9_source_mix" ->
        ("WITH m AS (SELECT doc_id, source, " +
          "(CAST(regexp_extract(source, 'src([0-9]+)', 1) AS INT) % 5 + 2) AS wx2, " +
          "('0x' || substr(md5('mix:' || doc_id),1,15))::BIGINT % 1000000 AS u FROM documents), " +
          "n AS (SELECT doc_id, source, wx2 // 2 + " +
          "CASE WHEN wx2 % 2 = 1 AND u < 500000 THEN 1 ELSE 0 END AS n_epochs FROM m) " +
          "SELECT doc_id, source, CAST(unnest(range(n_epochs)) AS INT) AS epoch FROM n"),
      // p10 oracle: the same long-div ppm arithmetic as mixturePlan, in
      // chained CTEs — supply per source, scalar totals, budget = 3/2 ×
      // supply, epochs capped at 2.0; sums cast back to BIGINT (DuckDB
      // widens SUM to HUGEINT)
      // p12 oracle: the same keyed-md5 scores via a shard cross join,
      // argmax as a row_number window ordered (h DESC, s DESC) — the
      // DESC tie-break mirroring the struct-greatest ordering
      "p12_rendezvous_shards" ->
        ("WITH sb AS (SELECT doc_id, t.s AS s, " +
          "('0x' || substr(md5('rv:' || t.s || ':' || doc_id),1,15))::BIGINT AS h " +
          "FROM documents, range(8) t(s)), " +
          "rb AS (SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn FROM sb), " +
          "sa AS (SELECT doc_id, t.s AS s, " +
          "('0x' || substr(md5('rv:' || t.s || ':' || doc_id),1,15))::BIGINT AS h " +
          "FROM documents, range(9) t(s)), " +
          "ra AS (SELECT doc_id, s, row_number() OVER (PARTITION BY doc_id ORDER BY h DESC, s DESC) AS rn FROM sa) " +
          "SELECT d.doc_id, CAST(rb.s AS INT) AS shard_before, CAST(ra.s AS INT) AS shard_after, " +
          "CAST(d.doc_id % 8 AS INT) AS mod_before, CAST(d.doc_id % 9 AS INT) AS mod_after, " +
          "rb.s <> ra.s AS moved, d.doc_id % 8 <> d.doc_id % 9 AS mod_moved " +
          "FROM documents d JOIN rb ON rb.doc_id = d.doc_id AND rb.rn = 1 " +
          "JOIN ra ON ra.doc_id = d.doc_id AND ra.rn = 1"),
      // e56 oracle: the edge set derived from the pairing arithmetic,
      // reciprocity via the same reversed-pair left join — boundary
      // pages (a partner outside the table) resolve identically
      "e56_hreflang_reciprocity" ->
        ("WITH e AS (SELECT 'https://ml.example.com/p' || doc_id AS src, 'de' AS lang, " +
          "'https://ml.example.com/p' || (CASE WHEN doc_id % 2 = 0 THEN doc_id + 1 " +
          "ELSE doc_id - 1 END) AS dst FROM documents " +
          "WHERE doc_id % 2 = 0 OR ((doc_id - 1) // 2) % 2 = 0) " +
          "SELECT e.src, e.lang, e.dst, r.src IS NOT NULL AS reciprocated " +
          "FROM e LEFT JOIN (SELECT DISTINCT src, dst FROM e) r " +
          "ON r.src = e.dst AND r.dst = e.src"),
      // e58 oracle: both title channels and the verdict arithmetic
      // from doc_id — a MATCH pins that the RCDATA title scan and the
      // og property scan agree with the constructed families
      "e58_title_og_diff" ->
        ("SELECT doc_id, " +
          "CASE doc_id % 5 WHEN 0 THEN 'Same ' || doc_id WHEN 1 THEN 'Chrome | Site' " +
          "WHEN 2 THEN 'Only title ' || (doc_id % 7) END AS title, " +
          "CASE doc_id % 5 WHEN 0 THEN 'Same ' || doc_id " +
          "WHEN 1 THEN 'Real headline ' || (doc_id % 13) " +
          "WHEN 3 THEN 'Only og ' || (doc_id % 3) END AS og_title, " +
          "CASE doc_id % 5 WHEN 0 THEN 'match' WHEN 1 THEN 'differs' " +
          "WHEN 2 THEN 'og_missing' WHEN 3 THEN 'title_missing' " +
          "ELSE 'both_missing' END AS verdict FROM documents"),
      // e55 oracle: every og field arithmetic from doc_id — a MATCH
      // pins the property gate (name= is NOT OpenGraph), key case-
      // folding, first-wins, and comment immunity
      "e55_og_harvest" ->
        ("SELECT doc_id, " +
          "CASE doc_id % 5 WHEN 0 THEN 'T' || doc_id WHEN 1 THEN 'U' || doc_id " +
          "WHEN 2 THEN 'first' || (doc_id % 7) END AS og_title, " +
          "CASE doc_id % 5 WHEN 0 THEN 'D' || doc_id END AS og_description, " +
          "CASE doc_id % 5 WHEN 0 THEN 'article' WHEN 2 THEN 'website' END AS og_type, " +
          "CASE doc_id % 5 WHEN 0 THEN 'https://img.example.com/i' || (doc_id % 9) || '.jpg' END AS og_image " +
          "FROM documents"),
      // e54 oracle: raw content, parsed delay and target arithmetic
      // from doc_id — a MATCH pins the digits-mandatory rule, both
      // separators, case-insensitive url=, quote stripping, the
      // delay-only reload, and the name-vs-http-equiv decoy
      "e54_meta_refresh" ->
        ("SELECT doc_id, " +
          "CASE doc_id % 5 WHEN 0 THEN '0; url=https://t.example.com/r' || (doc_id % 40) " +
          "WHEN 1 THEN '5,URL=''/next' || (doc_id % 7) || '''' " +
          "WHEN 2 THEN '30' WHEN 4 THEN 'soon; url=/x' || (doc_id % 3) END AS refresh_raw, " +
          "CAST(CASE doc_id % 5 WHEN 0 THEN 0 WHEN 1 THEN 5 WHEN 2 THEN 30 END AS BIGINT) AS delay_s, " +
          "CASE doc_id % 5 WHEN 0 THEN 'https://t.example.com/r' || (doc_id % 40) " +
          "WHEN 1 THEN '/next' || (doc_id % 7) END AS target " +
          "FROM documents"),
      // e53 oracle: every block and field arithmetic from doc_id (the
      // e35 pattern) — a MATCH pins the media-type token match, decoy
      // immunity, document order, byte-exact body capture, AND Spark's
      // from_json agreeing with the known construction (malformed JSON
      // -> nulls, nested author extraction)
      "e53_jsonld" ->
        ("WITH d AS (SELECT doc_id, doc_id % 6 AS f FROM documents) " +
          "SELECT doc_id, CAST(idx AS INT) AS idx, block, ld_type, name, " +
          "date_published, author_name FROM ( " +
          "SELECT doc_id, 0 AS idx, " +
          "'{\"@context\":\"https://schema.org\",\"@type\":\"Article\",\"name\":\"Doc ' || doc_id || " +
          "'\",\"datePublished\":\"2026-05-1' || (doc_id % 10) || '\"}' AS block, " +
          "'Article' AS ld_type, 'Doc ' || doc_id AS name, " +
          "'2026-05-1' || (doc_id % 10) AS date_published, NULL AS author_name FROM d WHERE f = 0 " +
          "UNION ALL SELECT doc_id, 0, '{\"@type\":\"Article\",\"name\":\"A' || doc_id || '\"}', " +
          "'Article', 'A' || doc_id, NULL, NULL FROM d WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 1, '{\"@type\":\"Product\",\"name\":\"P' || doc_id || '\"}', " +
          "'Product', 'P' || doc_id, NULL, NULL FROM d WHERE f = 1 " +
          "UNION ALL SELECT doc_id, 0, '{\"@type\":\"NewsArticle\",\"name\":\"N' || doc_id || '\"}', " +
          "'NewsArticle', 'N' || doc_id, NULL, NULL FROM d WHERE f = 2 " +
          "UNION ALL SELECT doc_id, 0, '{\"oops\" ' || doc_id || '}', " +
          "NULL, NULL, NULL, NULL FROM d WHERE f = 4 " +
          "UNION ALL SELECT doc_id, 0, " +
          "'{\"@type\":\"Article\",\"name\":\"X' || doc_id || " +
          "'\",\"author\":{\"@type\":\"Person\",\"name\":\"Au' || doc_id || '\"}}', " +
          "'Article', 'X' || doc_id, NULL, 'Au' || doc_id FROM d WHERE f = 5)"),
      // d31 oracle: the same dup augmentation, md5 clusters, and
      // bit_length-1 bucketing via length(bin(x)) on both engines
      "d31_dup_histogram" ->
        (s"WITH a AS ($dupAugSql), " +
          "c AS (SELECT md5(text) AS h, count(*) AS sz FROM a GROUP BY h), " +
          "b AS (SELECT CAST(length(bin(sz)) - 1 AS INT) AS bucket, sz FROM c) " +
          "SELECT bucket, count(*) AS n_clusters, CAST(SUM(sz) AS BIGINT) AS n_docs " +
          "FROM b GROUP BY bucket"),
      // t49 oracle: the same dup augmentation with source kept, d1's
      // min-doc_id keeper rule, per-source rollups, long-div ppm
      "t49_token_yield" ->
        (s"WITH a AS (SELECT doc_id, source, CASE WHEN doc_id % 5 = 4 " +
          "THEN 'canonical page ' || (doc_id % 17) ELSE text END AS text FROM documents), " +
          s"t AS (SELECT doc_id, source, len($w) AS nw, md5(text) AS h FROM a), " +
          "k AS (SELECT h, min(doc_id) AS kid FROM t GROUP BY h), " +
          "kept AS (SELECT source, count(*) AS docs_kept, CAST(SUM(nw) AS BIGINT) AS tokens_kept " +
          "FROM t JOIN k ON t.h = k.h AND t.doc_id = k.kid GROUP BY source), " +
          "tot AS (SELECT source, count(*) AS n_docs, CAST(SUM(nw) AS BIGINT) AS tokens_total " +
          "FROM t GROUP BY source) " +
          "SELECT tot.source, tot.n_docs, tot.tokens_total, " +
          "CAST(COALESCE(kept.docs_kept, 0) AS BIGINT) AS docs_kept, " +
          "CAST(COALESCE(kept.tokens_kept, 0) AS BIGINT) AS tokens_kept, " +
          "CAST(1000000 * COALESCE(kept.tokens_kept, 0) // tot.tokens_total AS BIGINT) AS yield_ppm " +
          "FROM tot LEFT JOIN kept ON kept.source = tot.source"),
      // t48 oracle: the same closed-form window count and inclusive
      // list slices over the shared whitespace split
      "t48_overlap_chunks" ->
        (s"WITH d AS (SELECT doc_id, $w AS w FROM documents WHERE trim(text) <> ''), " +
          "s AS (SELECT doc_id, w, len(w) AS n, " +
          "CASE WHEN len(w) <= 8 THEN 1 ELSE (len(w) - 8 + 3) // 4 + 1 END AS k FROM d) " +
          "SELECT doc_id, CAST(t.ci AS INT) AS chunk_idx, CAST(t.ci * 4 AS INT) AS start_word, " +
          "CAST(least(8, n - t.ci * 4) AS INT) AS n_words, " +
          "array_to_string(w[t.ci * 4 + 1 : least(t.ci * 4 + 8, n)], ' ') AS chunk_text " +
          "FROM s, unnest(range(k)) t(ci)"),
      // t50 oracle: the same chr()-decorated strings; strlen = octets,
      // length = codepoints on both engines (astral included)
      "t50_byte_stats" ->
        (s"WITH d AS (SELECT doc_id, text || CASE doc_id % 4 " +
          "WHEN 1 THEN ' ' || chr(233) WHEN 2 THEN ' ' || chr(19990) || chr(30028) " +
          "WHEN 3 THEN ' ' || chr(127881) ELSE '' END AS text FROM documents) " +
          s"SELECT doc_id, CAST(strlen(text) AS INT) AS n_bytes, " +
          "CAST(length(text) AS INT) AS n_chars, " +
          s"CAST(len($w) AS INT) AS n_words, " +
          s"CAST(100 * strlen(text) // len($w) AS BIGINT) AS bytes_per_100w FROM d"),
      // t47 oracle: the SAME decorated strings built via chr(), then
      // DuckDB's utf8proc nfc_normalize against the JVM Normalizer —
      // a cross-library UAX #15 conformance check (composition,
      // singleton, Hangul arithmetic, partial composition); lengths
      // are codepoint counts on both sides
      "t47_nfc_audit" ->
        ("WITH d AS (SELECT doc_id, text || CASE doc_id % 5 " +
          "WHEN 0 THEN ' e' || chr(769) WHEN 1 THEN ' ' || chr(8491) " +
          "WHEN 2 THEN ' ' || chr(4352) || chr(4449) WHEN 3 THEN '' " +
          "ELSE ' A' || chr(776) || chr(769) END AS t FROM documents) " +
          "SELECT doc_id, t = nfc_normalize(t) AS is_nfc, " +
          "CAST(length(t) AS INT) AS raw_cp, " +
          "CAST(length(nfc_normalize(t)) AS INT) AS nfc_cp, " +
          "nfc_normalize(t) AS nfc_text FROM d"),
      // p16 oracle: same keyed-md5 ranking per epoch over the distinct
      // shard ledger
      "p16_epoch_order" ->
        ("WITH sh AS (SELECT DISTINCT doc_id % 32 AS shard_id FROM documents), " +
          "g AS (SELECT CAST(t.e AS INT) AS epoch, shard_id, " +
          "('0x' || substr(md5('eo:' || t.e || ':' || shard_id), 1, 15))::BIGINT AS k " +
          "FROM sh, range(4) t(e)) " +
          "SELECT epoch, shard_id, CAST(row_number() OVER " +
          "(PARTITION BY epoch ORDER BY k, shard_id) - 1 AS INT) AS position FROM g"),
      // p15 oracle: the same full-outer + four-way CASE in SQL; ghost
      // references surface as missing with NULL mtime, the grace
      // boundary (>= keeps, < reclaims) pinned by the modulus split
      "p15_orphan_plan" ->
        ("WITH obs AS (SELECT 'f' || doc_id AS path, " +
          "CAST(1767225600 + doc_id % 100 AS BIGINT) AS modified_ts FROM documents), " +
          "ref AS (SELECT 'f' || doc_id AS path FROM documents WHERE doc_id % 4 <> 1 " +
          "UNION SELECT 'g' || doc_id FROM documents WHERE doc_id % 10 = 0) " +
          "SELECT COALESCE(obs.path, ref.path) AS path, obs.modified_ts, " +
          "obs.path IS NOT NULL AS observed, ref.path IS NOT NULL AS referenced, " +
          "CASE WHEN obs.path IS NOT NULL AND ref.path IS NOT NULL THEN 'ok' " +
          "WHEN obs.path IS NULL THEN 'missing' " +
          "WHEN obs.modified_ts < 1767225680 THEN 'orphan' " +
          "ELSE 'in_flight' END AS verdict " +
          "FROM obs FULL OUTER JOIN ref ON obs.path = ref.path"),
      // p14 oracle: the same two expiry clauses in SQL — recency rank
      // via one window over the 24-row ledger, expired = over-age AND
      // beyond retain_last, reclaim rolled up on last_snap and zeroed
      // on kept snapshots
      "p14_retention_plan" ->
        ("WITH s AS (SELECT CAST(t.s AS BIGINT) AS snap_id, " +
          "CAST(1767225600 + t.s * 3600 AS BIGINT) AS committed_ts FROM range(24) t(s)), " +
          "r AS (SELECT CAST(snap_id AS INT) AS snap_id, committed_ts, " +
          "CAST(row_number() OVER (ORDER BY committed_ts DESC, snap_id DESC) AS INT) AS recency_rank FROM s), " +
          "e AS (SELECT *, committed_ts < 1767301200 AND recency_rank > 4 AS expired FROM r), " +
          "f AS (SELECT doc_id, doc_id % 24 AS fs, length(text) AS bytes FROM documents), " +
          "g AS (SELECT CAST(fs + doc_id % (24 - fs) AS INT) AS last_snap, " +
          "COUNT(*) AS nf, CAST(SUM(bytes) AS BIGINT) AS bf FROM f GROUP BY 1) " +
          "SELECT e.snap_id, e.committed_ts, e.recency_rank, e.expired, " +
          "CAST(CASE WHEN e.expired THEN COALESCE(g.nf, 0) ELSE 0 END AS BIGINT) AS n_files_reclaimed, " +
          "CAST(CASE WHEN e.expired THEN COALESCE(g.bf, 0) ELSE 0 END AS BIGINT) AS bytes_reclaimed " +
          "FROM e LEFT JOIN g ON g.last_snap = e.snap_id"),
      // p13 oracle: the same streaming-coalesce binning in SQL — the
      // 16-shard manifest from a (source, doc_id%16) rollup, cumulative
      // bytes-before via a ROWS window ordered by shard_id, bin label =
      // cum_before // target, bin stats re-joined for bin_bytes/fill_ppm
      // p18 oracle: the heap-numbered tree's longest-path layer is
      // closed-form bit_length(i) (the t24 length(bin) trick), the
      // cycle pair and its downstream table come back blocked — a
      // MATCH pins the iterative fixpoint against pure arithmetic
      "p18_backfill_layers" ->
        ("WITH t AS (SELECT DISTINCT doc_id % 40 AS i FROM documents) " +
          "SELECT 't' || i AS tbl, " +
          "CASE WHEN i IN (37, 38, 39) THEN NULL WHEN i = 0 THEN 0 " +
          "ELSE length(bin(i)) END AS layer, " +
          "CASE WHEN i IN (37, 38, 39) THEN 'blocked' ELSE 'ready' END AS status " +
          "FROM t"),
      // p19 oracle: same two synthesized manifests, full-outer join on
      // path, the same CASE ladder; NULL sides preserved (absent != 0)
      "p19_manifest_diff" ->
        ("WITH ids AS (SELECT DISTINCT doc_id % 60 AS id FROM documents), " +
          "p AS (SELECT 'f' || id AS path, CAST(1000 + id * 7 AS BIGINT) AS bytes_prev FROM ids WHERE id % 7 <> 3), " +
          "c AS (SELECT 'f' || id AS path, CAST(1000 + id * 7 + CASE WHEN id % 5 = 0 THEN 64 ELSE 0 END AS BIGINT) AS bytes_cur FROM ids WHERE id % 11 <> 4) " +
          "SELECT coalesce(p.path, c.path) AS path, bytes_prev, bytes_cur, " +
          "CASE WHEN bytes_prev IS NULL THEN 'added' WHEN bytes_cur IS NULL THEN 'removed' " +
          "WHEN bytes_prev <> bytes_cur THEN 'rewritten' ELSE 'unchanged' END AS status, " +
          "CAST(coalesce(bytes_cur, 0) - coalesce(bytes_prev, 0) AS BIGINT) AS delta_bytes " +
          "FROM p FULL OUTER JOIN c ON p.path = c.path"),
      // p17 oracle: same manifest synthesis (invalid %23 wins over
      // overspan %29 by CASE order), floor-div day bins, the m/r/i/o
      // family ladder, generate_series fan-out for ok files, NULL-part
      // rows for the error families, identical rollup
      "p17_partition_evolution" ->
        ("WITH f0 AS (SELECT doc_id, CAST(CASE WHEN doc_id % 31 = 5 " +
          "THEN -100 - (doc_id % 40) * 30000 " +
          "ELSE 1700000000 + (doc_id % 40) * 30000 END AS BIGINT) AS mn FROM documents), " +
          "f AS (SELECT CAST(500 + doc_id % 2000 AS BIGINT) AS bytes, mn, " +
          "mn + CAST(CASE WHEN doc_id % 23 = 3 THEN -999999 " +
          "WHEN doc_id % 29 = 6 THEN 86400 * 10000 " +
          "ELSE (doc_id % 4) * 50000 END AS BIGINT) AS mx FROM f0), " +
          // integer `//` truncates toward zero in DuckDB too, so the
          // FLOOR binning (pre-1970 spans) is spelled out on both sides
          "c AS (SELECT bytes, " +
          "mn // 86400 - CASE WHEN mn % 86400 < 0 THEN 1 ELSE 0 END AS lo, " +
          "mx // 86400 - CASE WHEN mx % 86400 < 0 THEN 1 ELSE 0 END AS hi, " +
          "mx >= mn AS valid FROM f), " +
          "d AS (SELECT bytes, lo, hi, " +
          "CASE WHEN NOT valid THEN 'i' WHEN hi - lo + 1 > 4096 THEN 'o' " +
          "WHEN hi = lo THEN 'm' ELSE 'r' END AS fam FROM c), " +
          "e AS (SELECT bytes, fam, unnest(generate_series(lo, hi)) AS part FROM d WHERE fam IN ('m','r') " +
          "UNION ALL SELECT bytes, fam, NULL AS part FROM d WHERE fam IN ('i','o')) " +
          "SELECT part, CAST(sum(CASE WHEN fam='m' THEN 1 ELSE 0 END) AS BIGINT) AS n_move, " +
          "CAST(sum(CASE WHEN fam='m' THEN bytes ELSE 0 END) AS BIGINT) AS move_bytes, " +
          "CAST(sum(CASE WHEN fam='r' THEN 1 ELSE 0 END) AS BIGINT) AS n_rewrite, " +
          "CAST(sum(CASE WHEN fam='r' THEN bytes ELSE 0 END) AS BIGINT) AS rewrite_bytes, " +
          "CAST(sum(CASE WHEN fam='i' THEN 1 ELSE 0 END) AS BIGINT) AS n_invalid, " +
          "CAST(sum(CASE WHEN fam='o' THEN 1 ELSE 0 END) AS BIGINT) AS n_overspan " +
          "FROM e GROUP BY part"),
      "p13_compaction_plan" ->
        ("WITH m AS (SELECT source, CAST(doc_id % 16 AS INT) AS shard_id, " +
          "CAST(SUM(length(text)) AS BIGINT) AS bytes FROM documents GROUP BY 1, 2), " +
          "c AS (SELECT source, shard_id, bytes, COALESCE(SUM(bytes) OVER (" +
          "PARTITION BY source ORDER BY shard_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM m), " +
          "b AS (SELECT source, shard_id, bytes, CAST(cum_before // 4096 AS BIGINT) AS bin FROM c), " +
          "st AS (SELECT source, bin, CAST(SUM(bytes) AS BIGINT) AS bin_bytes, COUNT(*) AS bin_shards FROM b GROUP BY 1, 2) " +
          "SELECT b.source, b.shard_id, b.bytes, b.bin, st.bin_bytes, st.bin_shards, " +
          "CAST(1000000 * st.bin_bytes // 4096 AS BIGINT) AS fill_ppm " +
          "FROM b JOIN st ON b.source = st.source AND b.bin = st.bin"),
      "p10_mixture_plan" ->
        (s"WITH sup AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs, " +
          s"CAST(SUM(len($w)) AS BIGINT) AS supply_tokens, " +
          "(CAST(regexp_extract(source, 'src([0-9]+)', 1) AS BIGINT) % 7 + 1) AS wu " +
          "FROM documents WHERE length(text) >= 1 GROUP BY source), " +
          "tot AS (SELECT CAST(SUM(wu) AS BIGINT) AS total_wu, " +
          "CAST(SUM(supply_tokens) * 3 // 2 AS BIGINT) AS budget_tokens FROM sup), " +
          "pl AS (SELECT source, n_docs, supply_tokens, " +
          "CAST(wu * 1000000 // total_wu AS BIGINT) AS weight_ppm, " +
          "CAST(budget_tokens * wu // total_wu AS BIGINT) AS target_tokens FROM sup, tot), " +
          "pe AS (SELECT *, CAST(least(2000000, target_tokens * 1000000 // supply_tokens) AS BIGINT) AS epochs_ppm FROM pl) " +
          "SELECT source, n_docs, supply_tokens, weight_ppm, target_tokens, epochs_ppm, " +
          "CAST(supply_tokens * epochs_ppm // 1000000 AS BIGINT) AS planned_tokens, " +
          "CAST(target_tokens - supply_tokens * epochs_ppm // 1000000 AS BIGINT) AS deficit_tokens FROM pe"),
      // p11 oracle: band from word count at edges (32, 64), k the same
      // md5-derived 60-bit key, one flat window ordered (band, k,
      // doc_id) — equals the sharded Spark enumeration because shard is
      // monotone in k within a band (the t11 argument, lifted one level)
      "p11_curriculum" ->
        (s"WITH s AS (SELECT doc_id, len($w) AS n_words, " +
          "('0x' || substr(md5('cur:' || doc_id),1,15))::BIGINT AS k " +
          "FROM documents WHERE trim(text) <> ''), " +
          "b AS (SELECT doc_id, CAST(n_words AS INT) AS n_words, " +
          "CAST(CASE WHEN n_words >= 64 THEN 2 WHEN n_words >= 32 THEN 1 " +
          "ELSE 0 END AS INT) AS band, k FROM s) " +
          "SELECT doc_id, n_words, band, " +
          "row_number() OVER (ORDER BY band, k, doc_id) - 1 AS step FROM b"),
      // frequent-trigram oracle: plain one-stage global window over the
      // HAVING-pruned counts — algorithm-independent of the salted
      // two-stage Spark plan; ties at equal count break by ngram asc on
      // both sides
      "t15_frequent_ngrams" -> freqNgramOracle,
      // the CMS-gated variant must produce the exact same rows as the
      // plain formulation (sketch overestimates => no false negatives;
      // exact count removes false positives) — same oracle
      "t21_cms_heavy_hitters" -> freqNgramOracle,
      // inverted-index oracle: plain one-stage formulation — exact df,
      // postings = first `cap` doc_ids ascending, comma-joined to a
      // scalar string so the compare harness can sort/hash the column
      "t22_inverted_index" ->
        (s"WITH p AS (SELECT DISTINCT doc_id, unnest($w) AS word FROM documents WHERE length(text) >= 1) " +
          "SELECT word, CAST(count(*) AS BIGINT) AS df, " +
          "array_to_string((list(doc_id ORDER BY doc_id))[1:32], ',') AS postings FROM p GROUP BY word"),
      // language-mix oracle: t6's /8 paragraph windows, t1's stopword
      // argmax per window, majority by (count desc, lang asc)
      "t17_lang_mix" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE len($w) >= 1), " +
          "g AS (SELECT doc_id, list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)), i -> " +
          "array_to_string(w[i*8+1:least((i+1)*8, len(w))], ' ')) AS pp FROM f), " +
          "p AS (SELECT doc_id, regexp_split_to_array(trim(unnest(pp)), '[ \\t\\n\\r\\f\\x0B]+') AS w FROM g), " +
          s"sc AS (SELECT doc_id, len(list_filter(w, x -> x IN $stopEn)) AS s_en, " +
          "len(list_filter(w, x -> x IN ('der','die','das','und','ist','ein','zu','den'))) AS s_de, " +
          "len(list_filter(w, x -> x IN ('el','la','los','las','una','es','y','que'))) AS s_es, " +
          "len(list_filter(w, x -> x IN ('le','les','des','une','est','et','dans','pour'))) AS s_fr, " +
          "len(list_filter(w, x -> x IN ('的','是','了','在','我','有','和','不'))) AS s_zh FROM p), " +
          "lg AS (SELECT doc_id, CASE " +
          "WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en' " +
          "WHEN s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de' " +
          "WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es' " +
          "WHEN s_fr >= s_zh THEN 'fr' ELSE 'zh' END AS lg FROM sc), " +
          "pl AS (SELECT doc_id, lg, count(*) AS c FROM lg GROUP BY 1, 2), " +
          "m AS (SELECT doc_id, lg, row_number() OVER (PARTITION BY doc_id ORDER BY c DESC, lg) AS rn FROM pl), " +
          "a AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_paras, CAST(count(*) AS BIGINT) AS n_langs FROM pl GROUP BY 1) " +
          "SELECT a.doc_id, a.n_paras, a.n_langs, m.lg AS major_lang, a.n_langs > 1 AS mixed " +
          "FROM a JOIN m ON a.doc_id = m.doc_id AND m.rn = 1"),
      // corpus-stats oracle: same word table, scalar aggregates
      "t18_corpus_stats" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "wc AS (SELECT word, count(*) AS c FROM (SELECT unnest(w) AS word FROM f) GROUP BY 1), " +
          "tp AS (SELECT word, c FROM wc ORDER BY c DESC, word LIMIT 1) " +
          "SELECT (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_docs, " +
          "(SELECT CAST(sum(c) AS BIGINT) FROM wc) AS n_tokens, " +
          "(SELECT CAST(count(*) AS BIGINT) FROM wc) AS vocab_size, " +
          "(SELECT CAST(count(*) AS BIGINT) FROM wc WHERE c = 1) AS hapax_count, " +
          "(SELECT word FROM tp) AS top_word, " +
          "(SELECT CAST(c AS BIGINT) FROM tp) AS top_word_count"),
      // HLL oracle: identical registers (same h60, bucket = h % 256, rho
      // via length(bin(...)) — engine-identical), identical max-merge '*'
      // row, exact-integer harmonic sum, and the ONE shared IEEE division
      // with the interpolated shortest-round-trip alpha literal
      "t24_hll_distinct" ->
        (s"WITH f AS (SELECT lang, $w AS w FROM documents WHERE length(text) >= 1), " +
          s"g AS (SELECT lang, unnest($sh3) AS g FROM f WHERE len(w) >= 3), " +
          "hh AS (SELECT lang, ('0x' || substr(md5(g), 1, 15))::BIGINT AS h FROM g), " +
          "rb AS (SELECT lang, h % 256 AS bucket, " +
          "CASE WHEN h // 256 = 0 THEN 53 ELSE 53 - length(bin(h // 256)) END AS rho FROM hh), " +
          "rg AS (SELECT lang, bucket, max(rho) AS r FROM rb GROUP BY 1, 2), " +
          "rga AS (SELECT lang, bucket, r FROM rg " +
          "UNION ALL SELECT '*', bucket, max(r) FROM rg GROUP BY 2), " +
          "ag AS (SELECT lang, count(*) AS present, " +
          "sum(CAST(1 AS BIGINT) << (53 - r)) AS s FROM rga GROUP BY 1), " +
          "dn AS (SELECT lang, present, " +
          "CAST(s + (256 - present) * 9007199254740992 AS BIGINT) AS harmonic_denom FROM ag) " +
          "SELECT lang, CAST(256 - present AS INT) AS empty_buckets, harmonic_denom, " +
          s"CAST(floor(${TrainingOps.hllAlphaNum(8)} / CAST(harmonic_denom AS DOUBLE)) AS BIGINT) " +
          "AS est_distinct FROM dn"),
      // group-split oracle: the same h60 group hash mod 1e6, same CASE
      // ladder — per-source assignment, stable under corpus growth
      "t26_split" ->
        ("SELECT doc_id, source, " +
          "CASE WHEN ('0x' || substr(md5('sp:' || source), 1, 15))::BIGINT % 1000000 < 100000 THEN 'test' " +
          "WHEN ('0x' || substr(md5('sp:' || source), 1, 15))::BIGINT % 1000000 < 200000 THEN 'val' " +
          "ELSE 'train' END AS split FROM documents"),
      // self-dedup oracle: the d11 window CTE over the repAug corpus,
      // first-occurrence keep via the indexed list_filter prefix test
      "t27_self_dedup" ->
        (s"WITH ba AS ($repAugSql), " +
          s"d AS (SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\r\\f\\x0B]+') AS w FROM ba), " +
          "c AS (SELECT doc_id, list_transform(range(CAST(ceil(len(w)/8.0) AS BIGINT)), " +
          "i -> array_to_string(w[i*8+1:least((i+1)*8, len(w))], ' ')) AS ch FROM d), " +
          "k AS (SELECT doc_id, ch, list_filter(ch, (x, i) -> NOT list_contains(ch[1:i-1], x)) AS kept FROM c) " +
          "SELECT doc_id, CAST(len(ch) AS INT) AS n_windows, CAST(len(kept) AS INT) AS n_kept, " +
          "md5(array_to_string(kept, ' ')) AS clean_md5 FROM k"),
      // host-boilerplate oracle: same per-doc-distinct line hashes, same
      // integer-ppm threshold, same per-host list re-checked by a
      // list_filter lambda — the strip result compares by md5 (t23 rule)
      "t25_host_boilerplate" ->
        (s"WITH ba AS ($boilerAugSql), " +
          "dl AS (SELECT DISTINCT doc_id, source, line FROM " +
          "(SELECT doc_id, source, unnest(string_split(text, chr(10))) AS line FROM ba)), " +
          "df AS (SELECT source, ('0x' || substr(md5(line), 1, 15))::BIGINT AS h, " +
          "count(*) AS df FROM dl GROUP BY 1, 2), " +
          "sn AS (SELECT source, count(*) AS n FROM ba GROUP BY 1), " +
          "bp AS (SELECT df.source, list(h ORDER BY h) AS bph FROM df JOIN sn USING (source) " +
          "WHERE df >= 2 AND df * 1000000 >= 300000 * n GROUP BY 1), " +
          "cl AS (SELECT b.doc_id, string_split(b.text, chr(10)) AS ls, " +
          "list_filter(string_split(b.text, chr(10)), x -> " +
          "NOT coalesce(list_contains(bp.bph, ('0x' || substr(md5(x), 1, 15))::BIGINT), FALSE)) AS cls " +
          "FROM ba b LEFT JOIN bp ON bp.source = b.source) " +
          "SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, " +
          "CAST(len(ls) - len(cls) AS INT) AS n_removed, " +
          "md5(array_to_string(cls, chr(10))) AS clean_md5 FROM cl"),
      // BPE-merge oracle: the same 4 iterations unrolled as a CTE chain —
      // same word table, same '(x)(y)' wrapped-symbol encoding, same
      // literal-replace merge application (left-to-right non-overlapping
      // replace IS greedy BPE), same (count DESC, l, r) argmax tie order
      "t19_bpe_merges" ->
        (bpeChainSql(4) + " " + (1 to 4).map(i =>
          s"SELECT CAST($i AS INT) AS rank, l AS lhs, r AS rhs, c AS pair_count FROM m$i")
          .mkString(" UNION ALL ")),
      // BPE application oracle: the same learned m1..m4 cross-joined onto
      // every doc as plain columns, the same wrap + in-order replace chain
      // per [a-z]+ word, symbol count summed per doc
      "p3_bpe_tokenize" -> {
        // exhaustion-safe: if the corpus yields fewer than 4 merges, an
        // empty m_i must not empty the cross join or null the replace —
        // LEFT JOIN ON TRUE + a fallback pattern that can never match
        // (digits are outside the [a-z]+ symbol alphabet)
        val rep = (1 to 4).foldLeft("regexp_replace(y, '(.)', '(\\1)', 'g')") {
          (e, i) => s"replace($e, coalesce('('||l$i||')('||r$i||')', '(0)(0)'), " +
            s"coalesce('('||l$i||r$i||')', '(00)'))"
        }
        bpeChainSql(4) +
          s", d AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "x AS (SELECT d.doc_id, d.w, " +
          (1 to 4).map(i => s"m$i.l AS l$i, m$i.r AS r$i").mkString(", ") +
          " FROM d " +
          (1 to 4).map(i => s"LEFT JOIN m$i ON TRUE").mkString(" ") + ") " +
          "SELECT doc_id, CAST(len(w) AS INT) AS n_words, " +
          "CAST(coalesce(list_sum(list_transform(list_filter(w, " +
          "y -> regexp_matches(y, '^[a-z]+" + "$" + "')), " +
          s"y -> len(str_split(trim($rep, '()'), ')(')))), 0) AS BIGINT) " +
          "AS n_bpe_tokens FROM x"
      },
      // normalization oracle: the dirtyAug CTE + the identical ordered
      // transform chain (controls -> zero-widths -> quotes -> whitespace)
      "t23_normalize" ->
        (s"WITH a AS ($dirtyAugSql), " +
          "n AS (SELECT doc_id, length(text) AS n_raw, md5(text) AS raw_md5, " +
          "trim(regexp_replace(translate(regexp_replace(regexp_replace(text, " +
          "'[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]', '', 'g'), " +
          "'[\\x{00AD}\\x{200B}\\x{200C}\\x{200D}\\x{FEFF}]', '', 'g'), " +
          "chr(8216)||chr(8217)||chr(8220)||chr(8221), chr(39)||chr(39)||chr(34)||chr(34)), " +
          "'[ \\t]+', ' ', 'g')) AS t FROM a) " +
          "SELECT doc_id, CAST(n_raw AS INT) AS n_raw, CAST(length(t) AS INT) AS n_norm, " +
          "md5(t) AS norm_md5, md5(t) <> raw_md5 AS changed FROM n"),
      // quality-classifier oracle: same hashed buckets (md5 'qc:' prefix,
      // mod 256), same integer-ppm class frequencies, same
      // centroid-difference weights; scoring re-derived as a bucket join
      // + per-doc sum (algorithm-equivalent to the map-literal lookup)
      "t20_quality_classifier" ->
        (s"WITH f AS (SELECT doc_id, lang = 'en' AS pos, $w AS w FROM documents WHERE length(text) >= 1), " +
          "tk AS (SELECT doc_id, pos, ('0x' || substr(md5('qc:' || unnest(w)),1,15))::BIGINT % 256 AS b FROM f), " +
          "c AS (SELECT pos, b, count(*) AS c FROM tk GROUP BY 1, 2), " +
          "n AS (SELECT pos, sum(c) AS n FROM c GROUP BY 1), " +
          "wt AS (SELECT b, CAST(sum(CASE WHEN pos THEN ppm ELSE -ppm END) AS BIGINT) AS wt FROM (" +
          "SELECT c.b, c.pos, (1000000 * c.c) // n.n AS ppm FROM c JOIN n USING (pos)) GROUP BY 1), " +
          "sc AS (SELECT doc_id, CAST(sum(wt) AS BIGINT) AS score FROM tk JOIN wt USING (b) GROUP BY 1) " +
          "SELECT f.doc_id, CAST(len(f.w) AS INT) AS n_tokens, sc.score, sc.score >= 0 AS keep " +
          "FROM f JOIN sc USING (doc_id)"),
      // tf-idf oracle: same integer idf (floor(1e6*N/df)), same
      // (score desc, word asc) per-doc ranking
      "t16_tfidf_keywords" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "tf AS (SELECT doc_id, word, count(*) AS tf FROM (SELECT doc_id, unnest(w) AS word FROM f) GROUP BY 1, 2), " +
          "n AS (SELECT count(DISTINCT doc_id) AS n FROM tf), " +
          "df AS (SELECT word, count(*) AS df FROM tf GROUP BY 1), " +
          "sc AS (SELECT tf.doc_id, tf.word, tf.tf, tf.tf * ((1000000 * (SELECT n FROM n)) // df.df) AS score " +
          "FROM tf JOIN df USING (word)) " +
          "SELECT doc_id, CAST(rk AS INT) AS rk, word, CAST(tf AS BIGINT) AS tf, CAST(score AS BIGINT) AS score FROM (" +
          "SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, word) AS rk FROM sc) " +
          "WHERE rk <= 3"),
      // BM25 oracle: plain one-stage formulation of the same exact
      // integer arithmetic — avgdl = sum(dl)//n (all-positive, so
      // DuckDB's truncating // == Spark's div), idf_pm linear, contrib
      // left-assoc (idf * 44*tf*av) // denom, top-10 by
      // (score desc, doc_id)
      "t56_bm25_topk" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "b AS (SELECT doc_id, w, CAST(len(w) AS BIGINT) AS dl FROM f), " +
          "s AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) // count(*) AS BIGINT) AS av FROM b), " +
          "t AS (SELECT doc_id, dl, term, CAST(len(list_filter(w, x -> x = term)) AS BIGINT) AS tf " +
          "FROM b CROSS JOIN (SELECT unnest(['spark', 'merge', 'window']) AS term)), " +
          "tt AS (SELECT * FROM t WHERE tf >= 1), " +
          "df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tt GROUP BY 1), " +
          "c AS (SELECT tt.doc_id, tt.dl, " +
          "((1000 * ((SELECT n FROM s) - df.df + 1)) // (df.df + 1)) * (44 * tt.tf * (SELECT av FROM s)) " +
          "// (20 * tt.tf * (SELECT av FROM s) + 6 * (SELECT av FROM s) + 18 * tt.dl) AS contrib " +
          "FROM tt JOIN df USING (term)), " +
          "sc AS (SELECT doc_id, max(dl) AS n_tokens, sum(contrib) AS score, count(*) AS n_terms FROM c GROUP BY doc_id), " +
          "r AS (SELECT *, row_number() OVER (ORDER BY score DESC, doc_id) AS rk FROM sc) " +
          "SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens, CAST(score AS BIGINT) AS score, " +
          "CAST(n_terms AS BIGINT) AS n_terms FROM r WHERE rk <= 10"),
      // percentile oracle: single window cumsum over the value histogram
      // (fine oracle-side at sf0.01; the Spark op's driver prefix scan
      // replaces exactly this), ceil rank = (pm*n+999)//1000
      "t57_length_percentiles" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "h AS (SELECT CAST(len(w) AS BIGINT) AS v, count(*) AS c FROM f GROUP BY 1), " +
          "cum AS (SELECT v, sum(c) OVER (ORDER BY v) AS cc FROM h), " +
          "n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM f), " +
          "p AS (SELECT unnest([500, 900, 990, 999]) AS pm) " +
          "SELECT CAST(pm AS INT) AS permille, " +
          "CAST((pm * (SELECT n FROM n) + 999) // 1000 AS BIGINT) AS target_rank, " +
          "(SELECT min(v) FROM cum WHERE cc >= (pm * (SELECT n FROM n) + 999) // 1000) AS value " +
          "FROM p"),
      // coverage oracle: word-level ranked cumsum (ORDER BY count DESC,
      // word — unique keys, so RANGE peers don't merge) — lands on the
      // histogram method's numbers because within a count class every
      // word contributes the same c
      "t58_vocab_coverage" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "wc AS (SELECT word, CAST(count(*) AS BIGINT) AS c FROM (SELECT unnest(w) AS word FROM f) GROUP BY 1), " +
          "o AS (SELECT c, row_number() OVER (ORDER BY c DESC, word) AS rn, " +
          "CAST(sum(c) OVER (ORDER BY c DESC, word) AS BIGINT) AS cum FROM wc), " +
          "tot AS (SELECT CAST(sum(c) AS BIGINT) AS t FROM wc), " +
          "p AS (SELECT unnest([500, 900, 990]) AS pm) " +
          "SELECT CAST(pm AS INT) AS permille, " +
          "CAST((pm * (SELECT t FROM tot) + 999) // 1000 AS BIGINT) AS target_tokens, " +
          "(SELECT min(rn) FROM o WHERE cum >= (pm * (SELECT t FROM tot) + 999) // 1000) AS vocab_needed, " +
          "(SELECT min(cum) FROM o WHERE cum >= (pm * (SELECT t FROM tot) + 999) // 1000) AS tokens_covered " +
          "FROM p"),
      // per-source cap oracle: the plain one-stage window formulation —
      // algorithm-independent of sourceCap's salted two-stage plan
      "t13_source_cap" ->
        ("SELECT doc_id, source, n_chars, CAST(rk AS INT) AS rk FROM (" +
          "SELECT doc_id, source, n_chars, " +
          "row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id) AS rk " +
          "FROM documents) WHERE rk <= 10"),
      // Gopher/C4 rule-bundle oracle: mirrors qualityRules' synthetic
      // line decoration byte-for-byte (12-word lines, bullet/ellipsis
      // keys, digit/lorem/brace tails), then re-derives every rule and
      // the AND-ed keep verdict from the decorated text
      "t14_quality_rules" -> t14Oracle(w),
      // t35: the expected sentences re-derived ARITHMETICALLY from the
      // construction moduli (DuckDB's RE2 regex has no lookbehind, so
      // mirroring the splitter is impossible — which makes this a true
      // independent oracle): 9-word slices, capitalized-or-digit-led
      // heads, trap insertions, cycling terminators; a MATCH proves the
      // Java-regex splitter recovers exactly the constructed boundaries
      "t35_sentences" ->
        (s"WITH d AS (SELECT doc_id, $w AS w0 FROM documents WHERE length(text) >= 1), " +
          "b AS (SELECT doc_id, len(w0) AS n, CAST(i AS BIGINT) AS i, " +
          "array_to_string(w0[(i*9+1):least((i+1)*9, len(w0))], ' ') AS c " +
          "FROM d, unnest(range((len(w0)-1) // 9 + 1)) u(i)) " +
          "SELECT doc_id, CAST(i AS INT) AS sent_idx, " +
          "(CASE WHEN (doc_id+i) % 5 = 4 THEN '7 ' || c " +
          "ELSE upper(substr(c,1,1)) || substr(c,2) END) || " +
          "(CASE WHEN (doc_id+i) % 6 = 2 THEN ' e.g. more' ELSE '' END) || " +
          "(CASE WHEN (doc_id+i) % 7 = 3 THEN ' 3.14' ELSE '' END) || " +
          "(CASE (doc_id+i) % 4 WHEN 1 THEN '!' WHEN 2 THEN '?' ELSE '.' END) AS sentence, " +
          "CAST(least(9, n - 9*i) " +
          "+ (CASE WHEN (doc_id+i) % 5 = 4 THEN 1 ELSE 0 END) " +
          "+ (CASE WHEN (doc_id+i) % 6 = 2 THEN 2 ELSE 0 END) " +
          "+ (CASE WHEN (doc_id+i) % 7 = 3 THEN 1 ELSE 0 END) AS INT) AS n_words " +
          "FROM b"),
      // t36: the shared decorated-text CTE + the two decisive junk lines,
      // then the C4 line rules as list_filter — the MATCH proves the
      // Spark filter lambda and the SQL predicate agree line-for-line,
      // including the all-ellipsis empty-output family
      "t36_c4_line_scrub" ->
        (s"WITH ${decoratedTextCte(w)}, " +
          "x AS (SELECT doc_id, t || " +
          "(CASE WHEN doc_id % 37 = 5 THEN chr(10) || 'lorem ipsum dolor sit amet.' ELSE '' END) || " +
          "(CASE WHEN doc_id % 41 = 7 THEN chr(10) || 'retry { connect again now }.' ELSE '' END) AS t2 FROM a), " +
          "m AS (SELECT doc_id, string_split(t2, chr(10)) AS ls FROM x), " +
          "k AS (SELECT doc_id, ls, list_filter(ls, x -> " +
          "(x LIKE '%.' OR x LIKE '%!' OR x LIKE '%?' OR x LIKE '%\"') " +
          "AND NOT x LIKE '%...' " +
          "AND len(regexp_split_to_array(trim(x), '[ \\t\\n\\r\\f\\x0B]+')) >= 5 " +
          "AND instr(x, 'lorem ipsum') = 0 AND instr(x, '{') = 0) AS kept FROM m) " +
          "SELECT doc_id, CAST(len(ls) AS INT) AS n_lines, " +
          "CAST(len(kept) AS INT) AS n_kept, " +
          // DuckDB array_to_string([]) is NULL; Spark concat_ws is ''
          "coalesce(array_to_string(kept, chr(10)), '') AS clean_text FROM k"),
      // t37 oracle: the NAIVE quadratic form the automaton replaces —
      // every (doc, pattern, start-position) substr-compared; a MATCH
      // proves the linear AC scan (with flattened dictionary links and
      // overlap counting) computes exactly the O(n*p) answer
      "t37_blocklist_hits" ->
        ("WITH pats(pat) AS (VALUES " +
          TrainingOps.BlocklistPatterns.map(p => s"('$p')").mkString(",") + "), " +
          "t AS (SELECT doc_id, lower(text) AS tx FROM documents), " +
          "c AS (SELECT doc_id, pat AS pattern, " +
          "CAST(len(list_filter(range(1, length(tx) - length(pat) + 2), " +
          "i -> substr(tx, CAST(i AS INT), length(pat)) = pat)) AS BIGINT) AS n_hits " +
          "FROM t, pats) " +
          "SELECT doc_id, pattern, n_hits FROM c WHERE n_hits >= 1"),
      // datasheet oracle: the same dup augmentation (lang kept), the t18
      // token/vocab scalars, a grouped-dup rate, the FULL t14 oracle
      // embedded as a subquery for the keep rate, and the majority lang —
      // all integer-ppm, cross-joined one-row frames
      "p4_corpus_datasheet" -> {
        val aug = "SELECT doc_id, lang, CASE WHEN doc_id % 5 = 4 THEN " +
          "'canonical page ' || (doc_id % 17) ELSE text END AS text FROM documents"
        val t14OnAug = t14Oracle(w).replace("FROM documents", "FROM aug")
        s"WITH aug AS ($aug), " +
          s"f AS (SELECT doc_id, $w AS w FROM aug WHERE length(text) >= 1), " +
          "wc AS (SELECT word, count(*) AS c FROM (SELECT unnest(w) AS word FROM f) GROUP BY 1), " +
          "base AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM f) AS n_docs, " +
          "(SELECT CAST(sum(c) AS BIGINT) FROM wc) AS n_tokens, " +
          "(SELECT CAST(count(*) AS BIGINT) FROM wc) AS vocab_size), " +
          "dup AS (SELECT CAST(count(*) AS BIGINT) AS n_distinct, CAST(sum(n) AS BIGINT) AS n_total FROM " +
          "(SELECT count(*) AS n FROM aug GROUP BY md5(text))), " +
          s"keep AS (SELECT CAST(count(*) FILTER (WHERE keep) AS BIGINT) AS n_keep, " +
          s"CAST(count(*) AS BIGINT) AS n_rated FROM ($t14OnAug) q), " +
          "lg AS (SELECT lang AS top_lang, CAST(count(*) AS BIGINT) AS top_lang_docs FROM aug " +
          "WHERE length(text) >= 1 GROUP BY lang ORDER BY count(*) DESC, lang LIMIT 1) " +
          "SELECT base.n_docs, base.n_tokens, base.vocab_size, " +
          "base.n_tokens // base.n_docs AS mean_doc_tokens, " +
          "(1000000 * (dup.n_total - dup.n_distinct)) // dup.n_total AS exact_dup_ppm, " +
          "(1000000 * keep.n_keep) // keep.n_rated AS quality_keep_ppm, " +
          "lg.top_lang, lg.top_lang_docs FROM base, dup, keep, lg"
      },
      // shard-local sequence packing: running token sum per shard
      // (doc_id % 16) in doc_id order, integer-div sequence assignment —
      // mirrors sequencePack(seqLen=512, nShards=16)
      "t10_sequence_pack" ->
        (s"WITH f AS (SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard, " +
          s"CAST(len($w) AS INT) AS n_tokens FROM documents WHERE length(text) >= 1), " +
          "c AS (SELECT doc_id, shard, n_tokens, CAST(sum(n_tokens) OVER " +
          "(PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM f) " +
          "SELECT doc_id, shard, n_tokens, (cum - n_tokens) // 512 AS seq_id, " +
          "CAST((cum - n_tokens) % 512 AS INT) AS seq_offset, " +
          "CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS INT) AS n_seqs FROM c"),
      // t31 oracle: the single unpartitioned window cumsum — exactly the
      // plan shape tokenShards' two-phase prefix sum replaces at scale
      "t31_token_shards" ->
        (s"WITH f AS (SELECT doc_id, CAST(len($w) AS BIGINT) AS n_tokens " +
          "FROM documents WHERE length(text) >= 1), " +
          "o AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
          "AS token_start FROM f) " +
          "SELECT doc_id, n_tokens, token_start, token_start // 4096 AS shard FROM o"),
      // t61 oracle: t31's cumsum sharding + the m29 line format rebuilt
      // with the same literal-replace escape chain, lines string_agg'd
      // in doc_id order + trailing newline — md5 over identical bytes
      "t61_jsonl_shard_payloads" ->
        (s"WITH f AS (SELECT doc_id, text, CAST(len($w) AS BIGINT) AS n_tokens " +
          "FROM documents WHERE length(text) >= 1), " +
          "o AS (SELECT doc_id, text, CAST(coalesce(sum(n_tokens) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) // 4096 " +
          "AS shard FROM f), " +
          "l AS (SELECT shard, doc_id, '{\"id\":' || doc_id || ',\"text\":\"' || " +
          duckJsonEscape("text") + " || '\"}' AS line FROM o) " +
          "SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(octet_length(encode(string_agg(line, chr(10) ORDER BY doc_id) || chr(10))) AS BIGINT) AS n_bytes, " +
          "md5(string_agg(line, chr(10) ORDER BY doc_id) || chr(10)) AS payload_md5 " +
          "FROM l GROUP BY shard"),
      // p20 oracle: the t59 + t61 receipt CTEs at budget 1024, each
      // perturbed exactly as the wiring perturbs them, full-outer
      // joined with the NULL-preserving verdict ladder
      "p20_release_audit" ->
        (s"WITH f AS (SELECT doc_id, text, CAST(len($w) AS BIGINT) AS n_tokens " +
          "FROM documents WHERE length(text) >= 1), " +
          "o AS (SELECT doc_id, text, n_tokens, CAST(coalesce(sum(n_tokens) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
          "AS token_start FROM f), " +
          "sh AS (SELECT doc_id, text, n_tokens, token_start // 1024 AS shard FROM o), " +
          "man0 AS (SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens " +
          "FROM sh GROUP BY shard), " +
          "man AS (SELECT shard, n_docs + CASE WHEN shard % 7 = 3 THEN 1 ELSE 0 END AS n_docs, " +
          "n_tokens FROM man0 WHERE shard % 5 <> 2), " +
          "l AS (SELECT shard, doc_id, '{\"id\":' || doc_id || ',\"text\":\"' || " +
          duckJsonEscape("text") + " || '\"}' AS line FROM sh), " +
          "pay0 AS (SELECT shard, CAST(count(*) AS BIGINT) AS n_docs, " +
          "CAST(octet_length(encode(string_agg(line, chr(10) ORDER BY doc_id) || chr(10))) AS BIGINT) AS n_bytes, " +
          "md5(string_agg(line, chr(10) ORDER BY doc_id) || chr(10)) AS payload_md5 " +
          "FROM l GROUP BY shard), " +
          "pay AS (SELECT * FROM pay0 WHERE shard % 3 <> 1) " +
          "SELECT COALESCE(man.shard, pay.shard) AS shard, " +
          "CAST(man.n_docs AS BIGINT) AS m_docs, pay.n_docs AS p_docs, " +
          "man.n_tokens AS n_tokens, pay.n_bytes, pay.payload_md5, " +
          "CASE WHEN man.n_docs IS NULL THEN 'missing_manifest' " +
          "WHEN pay.n_docs IS NULL THEN 'missing_payload' " +
          "WHEN man.n_docs <> pay.n_docs THEN 'doc_count_mismatch' " +
          "ELSE 'consistent' END AS verdict " +
          "FROM man FULL OUTER JOIN pay ON man.shard = pay.shard"),
      // p21 oracle: every (shard, tensor) row re-derived arithmetically
      // from the m31 families x the wiring's manifest perturbations —
      // a MATCH pins the full-outer pairing, the per-shard status
      // reduction, and all six verdict rungs
      "p21_tensor_shard_audit" ->
        ("""WITH c AS (SELECT doc_id, doc_id % 6 AS f, """ +
          """CAST(2 + doc_id % 7 AS BIGINT) AS k0, CAST(1 + doc_id % 5 AS BIGINT) AS k1 FROM documents) """ +
          """SELECT CAST(shard AS BIGINT) AS shard, name, dtype, exp_dtype, """ +
          """CAST(n_elems AS BIGINT) AS n_elems, CAST(exp_elems AS BIGINT) AS exp_elems, """ +
          """status, verdict FROM ( """ +
          """SELECT doc_id AS shard, 'emb' AS name, 'F32' AS dtype, 'F32' AS exp_dtype, """ +
          """k0*k1 AS n_elems, CASE WHEN doc_id % 5 = 0 THEN k0*k1 + 1 ELSE k0*k1 END AS exp_elems, """ +
          """'ok' AS status, CASE WHEN doc_id % 5 = 0 THEN 'shape_mismatch' ELSE 'consistent' END AS verdict """ +
          """FROM c WHERE f = 0 """ +
          """UNION ALL SELECT doc_id, 'ids', 'I64', NULL, k0, NULL, 'ok', 'unexpected_tensor' FROM c WHERE f = 0 """ +
          """UNION ALL SELECT doc_id, 'q', NULL, 'F32', NULL, 7, 'ok', 'missing_tensor' FROM c WHERE f = 0 AND doc_id % 7 = 0 """ +
          """UNION ALL SELECT doc_id, 'w', 'F16', 'F16', k1, k1, 'ok', 'consistent' FROM c WHERE f = 1 """ +
          """UNION ALL SELECT doc_id, 'b', NULL, 'F32', NULL, 4, 'ok', 'missing_tensor' FROM c WHERE f = 1 """ +
          """UNION ALL SELECT doc_id, 'emb', NULL, 'F32', NULL, k0*k1, """ +
          """CASE WHEN f = 2 THEN 'bad_header_len' WHEN f = 3 THEN 'bad_json' """ +
          """WHEN f = 4 THEN 'bad_schema' ELSE 'short_data' END, 'unreadable_shard' FROM c WHERE f >= 2 """ +
          """UNION ALL SELECT -doc_id - 1, 'emb', NULL, 'F32', NULL, k0*k1, NULL, 'missing_shard' """ +
          """FROM c WHERE f = 0 AND doc_id % 11 = 0)"""),
      // t59 oracle: t31's window cumsum + one shard rollup; checksum =
      // bit_xor of the shared h60 convention over 'sm:'||doc_id
      "t59_shard_manifest" ->
        (s"WITH f AS (SELECT doc_id, CAST(len($w) AS BIGINT) AS n_tokens " +
          "FROM documents WHERE length(text) >= 1), " +
          "o AS (SELECT doc_id, n_tokens, CAST(coalesce(sum(n_tokens) OVER " +
          "(ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) " +
          "AS token_start FROM f), " +
          "sh AS (SELECT doc_id, n_tokens, token_start // 4096 AS shard FROM o) " +
          "SELECT shard, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens, " +
          "min(doc_id) AS first_doc, max(doc_id) AS last_doc, " +
          "bit_xor(('0x' || substr(md5('sm:' || doc_id), 1, 15))::BIGINT) AS checksum " +
          "FROM sh GROUP BY shard"),
      // incremental dedup over the dup-augmented corpus: increment rows
      // flagged as already-in-corpus / first-in-batch / keep — mirrors
      // incrementalDedup(dupAug % 10 >= 8, dupAug % 10 < 8); the bloom
      // pre-filter is invisible here because the output is exact
      "d13_incremental_dedup" ->
        (s"WITH a AS ($dupAugSql), " +
          "inc AS (SELECT doc_id, md5(text) AS h FROM a WHERE doc_id % 10 >= 8), " +
          "corp AS (SELECT DISTINCT md5(text) AS h FROM a WHERE doc_id % 10 < 8) " +
          "SELECT i.doc_id, (c.h IS NOT NULL) AS dup_of_corpus, " +
          "i.doc_id = min(i.doc_id) OVER (PARTITION BY i.h) AS first_in_batch, " +
          "(c.h IS NULL) AND i.doc_id = min(i.doc_id) OVER (PARTITION BY i.h) AS keep " +
          "FROM inc i LEFT JOIN corp c ON i.h = c.h"),
      // the composed corpus pipeline, as one CTE chain mirroring the five
      // chained TrainingOps stages of p1 (quality >= 0.4 -> exact-dedup
      // keepers -> no eval 5-gram overlap -> stratified sample -> pack 512)
      "p1_corpus_pipeline" ->
        ("WITH aug AS (SELECT doc_id, lang, CASE WHEN doc_id % 5 = 4 THEN " +
          "repeat('lorem canonical page ', 30) || (doc_id % 17) ELSE text END AS text " +
          "FROM documents), " +
          s"f AS (SELECT doc_id, lang, text, $w AS w FROM aug WHERE length(text) >= 1), " +
          "b AS (SELECT doc_id, lang, text, CAST(len(w) AS INT) AS n_words, " +
          "CAST(length(text) AS INT) AS n_chars, " +
          "length(regexp_replace(text, '[^0-9]', '', 'g')) AS n_digit, " +
          "length(regexp_replace(text, '[^.,;:!?]', '', 'g')) AS n_punct FROM f), " +
          "q AS (SELECT doc_id, lang, text FROM b WHERE " +
          "round(least(1.0::DOUBLE, n_words::DOUBLE / 100.0) * (1 - n_digit::DOUBLE / n_chars) * " +
          "(1 - least(1.0::DOUBLE, 5.0 * n_punct::DOUBLE / n_chars)), 4) >= 0.4), " +
          "d AS (SELECT doc_id, lang, text FROM (SELECT *, min(doc_id) OVER " +
          "(PARTITION BY md5(text)) AS rep FROM q) WHERE doc_id = rep), " +
          "a2 AS (SELECT doc_id, lang, text || ' evalmark a' || (doc_id % 23) || " +
          "' b' || (doc_id % 23) || ' c' || (doc_id % 23) || ' d' || (doc_id % 23) || " +
          "' e' || (doc_id % 23) AS text FROM d), " +
          s"f2 AS (SELECT doc_id, lang, text, $w AS w FROM a2), " +
          "g AS (SELECT doc_id, list_distinct(list_transform(range(len(w)-4), " +
          "i -> md5(array_to_string(w[i+1:i+5], ' ')))) AS g FROM f2 WHERE len(w) >= 5), " +
          "bench AS (SELECT DISTINCT gh FROM (SELECT unnest(g) AS gh FROM g WHERE doc_id % 61 = 7)), " +
          "tr AS (SELECT doc_id, unnest(g) AS gh FROM g WHERE doc_id % 61 <> 7), " +
          "hits AS (SELECT doc_id, count(*) AS n_hits FROM tr JOIN bench USING (gh) GROUP BY doc_id), " +
          "dec AS (SELECT t.doc_id, lang, text FROM (SELECT doc_id, lang, text FROM a2 " +
          "WHERE doc_id % 61 <> 7) t LEFT JOIN hits h USING (doc_id) WHERE coalesce(h.n_hits, 0) = 0), " +
          "smp AS (SELECT doc_id, lang, text FROM dec WHERE " +
          "CAST(('0x' || substr(md5('smp:' || doc_id),1,15))::BIGINT % 1000000 AS INT) < " +
          "CAST(CASE lang WHEN 'en' THEN 500000 WHEN 'de' THEN 250000 WHEN 'es' THEN 250000 " +
          "WHEN 'fr' THEN 125000 WHEN 'zh' THEN 125000 ELSE 50000 END AS INT)), " +
          s"pk AS (SELECT doc_id, CAST(doc_id % 16 AS INT) AS shard, CAST(len($w) AS INT) AS n_tokens " +
          "FROM smp WHERE length(text) >= 1), " +
          "c AS (SELECT doc_id, shard, n_tokens, CAST(sum(n_tokens) OVER " +
          "(PARTITION BY shard ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum FROM pk) " +
          "SELECT doc_id, shard, n_tokens, (cum - n_tokens) // 512 AS seq_id, " +
          "CAST((cum - n_tokens) % 512 AS INT) AS seq_offset, " +
          "CAST((cum - 1) // 512 - (cum - n_tokens) // 512 + 1 AS INT) AS n_seqs FROM c"),
      // unigram-LM familiarity: top-256 corpus vocabulary (count desc,
      // word asc), per-doc OOV count + summed corpus frequencies —
      // mirrors unigramFamiliarity(vocabSize=256); transcendental-free
      // so the single IEEE division is bit-identical across engines
      // t30 oracle: the d12 gram CTEs reversed — eval-keyed distinct
      // counts over the train∩eval gram matches, integer leak ppm
      "t30_contamination_report" ->
        (s"WITH a AS ($contAugSql), " +
          s"f AS (SELECT doc_id, $w AS w FROM a), " +
          "g AS (SELECT doc_id, list_distinct(list_transform(range(len(w)-4), " +
          "i -> md5(array_to_string(w[i+1:i+5], ' ')))) AS g FROM f WHERE len(w) >= 5), " +
          "eg AS (SELECT doc_id AS e_id, unnest(g) AS gh FROM g WHERE doc_id % 61 = 7), " +
          "tg AS (SELECT doc_id AS t_id, unnest(g) AS gh FROM g WHERE doc_id % 61 <> 7), " +
          "m AS (SELECT e_id, count(DISTINCT t_id) AS ntd, count(DISTINCT gh) AS nsg " +
          "FROM tg JOIN eg USING (gh) GROUP BY 1), " +
          "tot AS (SELECT doc_id AS e_id, CAST(len(g) AS INT) AS n_grams FROM g WHERE doc_id % 61 = 7) " +
          "SELECT t.e_id AS doc_id, t.n_grams, CAST(coalesce(m.ntd, 0) AS BIGINT) AS n_train_docs, " +
          "CAST(coalesce(m.nsg, 0) AS BIGINT) AS n_shared_grams, " +
          "CAST((1000000 * coalesce(m.nsg, 0)) // t.n_grams AS BIGINT) AS leak_ppm " +
          "FROM tot t LEFT JOIN m USING (e_id)"),
      // t29 oracle: same aug CTE, single-char class counts via
      // regexp_extract_all (RE2 \x{} ranges == Java \u ranges), integer
      // ppm, the same fixed-precedence dominant CASE
      "t29_script_mix" ->
        ("WITH sa AS (SELECT doc_id, CASE WHEN doc_id % 13 = 5 THEN '汉字文本内容数据页面' " +
          "WHEN doc_id % 13 = 11 THEN 'αβγδ abcd' " +
          "ELSE text || CASE WHEN doc_id % 13 = 7 THEN ' русский текст страницы' ELSE '' END " +
          "|| CASE WHEN doc_id % 13 = 9 THEN ' نص عربي للصفحة' ELSE '' END END AS text " +
          "FROM documents WHERE length(text) >= 1), " +
          "c AS (SELECT doc_id, CAST(length(text) AS INT) AS n_chars, " +
          "len(regexp_extract_all(text, '[A-Za-z]')) AS latin, " +
          "len(regexp_extract_all(text, '[\\x{4e00}-\\x{9fff}]')) AS cjk, " +
          "len(regexp_extract_all(text, '[\\x{0400}-\\x{04ff}]')) AS cyrillic, " +
          "len(regexp_extract_all(text, '[\\x{0600}-\\x{06ff}]')) AS arabic, " +
          "len(regexp_extract_all(text, '[\\x{0370}-\\x{03ff}]')) AS greek FROM sa) " +
          "SELECT doc_id, n_chars, " +
          "CAST((1000000 * latin) // n_chars AS BIGINT) AS latin_ppm, " +
          "CAST((1000000 * cjk) // n_chars AS BIGINT) AS cjk_ppm, " +
          "CAST((1000000 * cyrillic) // n_chars AS BIGINT) AS cyrillic_ppm, " +
          "CAST((1000000 * arabic) // n_chars AS BIGINT) AS arabic_ppm, " +
          "CASE WHEN latin >= cjk AND latin >= cyrillic AND latin >= arabic AND latin >= greek THEN 'latin' " +
          "WHEN cjk >= cyrillic AND cjk >= arabic AND cjk >= greek THEN 'cjk' " +
          "WHEN cyrillic >= arabic AND cyrillic >= greek THEN 'cyrillic' " +
          "WHEN arabic >= greek THEN 'arabic' ELSE 'greek' END AS dominant FROM c"),
      // bigram familiarity oracle: pair explode via struct unnest, the
      // same two-level count derivation (c_l = sum of c_lr, so ppm is a
      // true conditional), prune, LEFT join on the word pair, per-doc
      // integer rollup
      "t28_bigram_familiarity" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "g AS (SELECT doc_id, w FROM f WHERE len(w) >= 2), " +
          "pl AS (SELECT doc_id, p.l AS l, p.r AS r FROM (SELECT doc_id, " +
          "unnest(list_transform(range(len(w)-1), i -> struct_pack(l := w[i+1], r := w[i+2]))) AS p FROM g)), " +
          "clr AS (SELECT l, r, count(*) AS c_lr FROM pl GROUP BY 1, 2), " +
          "cl AS (SELECT l, sum(c_lr) AS c_l FROM clr GROUP BY 1), " +
          "model AS (SELECT m.l, m.r, (1000000 * m.c_lr) // c.c_l AS ppm " +
          "FROM clr m JOIN cl c USING (l) WHERE m.c_lr >= 2), " +
          "sc AS (SELECT doc_id, count(*) AS nb, " +
          "count(*) FILTER (WHERE ppm IS NULL) AS n_oov, " +
          "sum(coalesce(ppm, 0)) AS sp FROM pl LEFT JOIN model USING (l, r) GROUP BY doc_id) " +
          "SELECT doc_id, CAST(nb AS INT) AS n_bigrams, CAST(n_oov AS BIGINT) AS n_oov, " +
          "CAST(sp AS BIGINT) AS sum_ppm, CAST(sp // nb AS BIGINT) AS familiarity_ppm FROM sc"),
      // PMI collocation oracle: identical unigram/bigram counts, the
      // same minCount prune and two-step floor chain, positive-PMI cut
      "t39_pmi_collocations" ->
        (s"WITH f AS (SELECT $w AS w FROM documents WHERE length(trim(text)) >= 1), " +
          "uni AS (SELECT t, count(*) AS c_t FROM (SELECT unnest(w) AS t FROM f) GROUP BY 1), " +
          "tot AS (SELECT sum(c_t) AS n_total FROM uni), " +
          "pl AS (SELECT p.l AS l, p.r AS r FROM (SELECT " +
          "unnest(list_transform(range(len(w)-1), i -> struct_pack(l := w[i+1], r := w[i+2]))) AS p " +
          "FROM f WHERE len(w) >= 2)), " +
          "clr AS (SELECT l, r, count(*) AS n_pair FROM pl GROUP BY 1, 2 HAVING count(*) >= 3), " +
          "j AS (SELECT c.l, c.r, c.n_pair, ul.c_t AS n_left, ur.c_t AS n_right, " +
          "(((1000000 * c.n_pair) // ul.c_t) * (SELECT n_total FROM tot)) // ur.c_t AS lift_ppm " +
          "FROM clr c JOIN uni ul ON c.l = ul.t JOIN uni ur ON c.r = ur.t) " +
          "SELECT l, r, CAST(n_pair AS BIGINT) AS n_pair, CAST(n_left AS BIGINT) AS n_left, " +
          "CAST(n_right AS BIGINT) AS n_right, CAST(lift_ppm AS BIGINT) AS lift_ppm " +
          "FROM j WHERE lift_ppm > 1000000"),
      // t60 oracle: the two window distances as UNION legs over the
      // same token arrays, canonical least/greatest pair order — a
      // MATCH pins the map-side slice fanout against a positional
      // re-derivation
      "t60_skipgram_pairs" ->
        (s"WITH f AS (SELECT $w AS w FROM documents WHERE length(trim(text)) >= 1), " +
          "g AS (SELECT w FROM f WHERE len(w) >= 2), " +
          "p AS (SELECT unnest(list_transform(range(len(w)-1), i -> " +
          "struct_pack(a := least(w[i+1], w[i+2]), b := greatest(w[i+1], w[i+2])))) AS p1 FROM g " +
          "UNION ALL SELECT unnest(list_transform(range(len(w)-2), i -> " +
          "struct_pack(a := least(w[i+1], w[i+3]), b := greatest(w[i+1], w[i+3])))) FROM g WHERE len(w) >= 3) " +
          "SELECT p1.a AS a, p1.b AS b, count(*) AS n_pairs FROM p " +
          "GROUP BY 1, 2 HAVING count(*) >= 3"),
      // Kneser-Ney oracle: the same half-count discount, continuation
      // normalization, two-step ppm rounding, pruned-model left join,
      // and sample-tercile cutoffs — a MATCH pins every rounding step
      "t38_kn_familiarity" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "g AS (SELECT doc_id, w FROM f WHERE len(w) >= 2), " +
          "pl AS (SELECT doc_id, p.l AS l, p.r AS r FROM (SELECT doc_id, " +
          "unnest(list_transform(range(len(w)-1), i -> struct_pack(l := w[i+1], r := w[i+2]))) AS p FROM g)), " +
          "clr AS (SELECT l, r, count(*) AS c_lr FROM pl GROUP BY 1, 2), " +
          "lt AS (SELECT l, sum(c_lr) AS c_l, count(*) AS n1p_l FROM clr GROUP BY 1), " +
          "nt AS (SELECT count(*) AS n_types FROM clr), " +
          "rt AS (SELECT r, (1000000 * count(*)) // (SELECT n_types FROM nt) AS pcont_ppm FROM clr GROUP BY r), " +
          "model AS (SELECT l, r, (1000000 * (2 * c_lr - 1)) // (2 * c_l) AS pml_ppm " +
          "FROM clr JOIN lt USING (l) WHERE c_lr >= 2), " +
          "sc0 AS (SELECT doc_id, pml_ppm, coalesce(pml_ppm, 0) + " +
          "(n1p_l * pcont_ppm) // (2 * c_l) AS score_ppm " +
          "FROM pl JOIN lt USING (l) JOIN rt USING (r) LEFT JOIN model USING (l, r)), " +
          "sc AS (SELECT doc_id, CAST(count(*) AS INT) AS n_bigrams, " +
          "CAST(count(*) FILTER (WHERE pml_ppm IS NULL) AS BIGINT) AS n_backoff, " +
          "CAST(sum(score_ppm) AS BIGINT) AS sum_ppm, " +
          "CAST(sum(score_ppm) // count(*) AS BIGINT) AS kn_ppm FROM sc0 GROUP BY doc_id), " +
          "samp AS (SELECT kn_ppm, row_number() OVER (ORDER BY kn_ppm, doc_id) AS rn, " +
          "count(*) OVER () AS n FROM sc " +
          "WHERE ('0x' || substr(md5('knq:' || doc_id), 1, 15))::BIGINT % 10 = 0), " +
          "cuts AS (SELECT max(CASE WHEN rn = (n + 2) // 3 THEN kn_ppm END) AS c1, " +
          "max(CASE WHEN rn = (2 * n + 2) // 3 THEN kn_ppm END) AS c2 FROM samp) " +
          "SELECT doc_id, n_bigrams, n_backoff, sum_ppm, kn_ppm, " +
          "CASE WHEN kn_ppm <= c1 THEN 'tail' WHEN kn_ppm <= c2 THEN 'middle' " +
          "ELSE 'head' END AS bucket FROM sc, cuts"),
      "t12_lm_familiarity" ->
        (s"WITH f AS (SELECT doc_id, $w AS w FROM documents WHERE length(text) >= 1), " +
          "tok AS (SELECT doc_id, unnest(w) AS word FROM f), " +
          "vocab AS (SELECT word, count(*) AS c FROM tok GROUP BY word " +
          "ORDER BY c DESC, word LIMIT 256), " +
          "j AS (SELECT t.doc_id, v.c FROM tok t LEFT JOIN vocab v USING (word)) " +
          "SELECT doc_id, CAST(count(*) AS INT) AS n_tokens, " +
          "CAST(count(*) FILTER (WHERE c IS NULL) AS BIGINT) AS n_oov, " +
          "CAST(sum(coalesce(c, 0)) AS BIGINT) AS sum_freq, " +
          "CAST(sum(coalesce(c, 0)) AS DOUBLE) / count(*) AS familiarity " +
          "FROM j GROUP BY doc_id"),
      // deterministic global shuffle: shard = top 4 bits of the 60-bit
      // sort key, pos = dense global rank by (key, doc_id) — the sharded
      // Spark enumeration equals the flat window because shard is
      // monotone in the key; mirrors globalShuffle(nShards=16)
      "t11_global_shuffle" ->
        ("WITH s AS (SELECT doc_id, " +
          "('0x' || substr(md5('shuf:' || doc_id),1,15))::BIGINT AS k FROM documents) " +
          "SELECT doc_id, CAST(k // 72057594037927936 AS INT) AS shard, " +
          "row_number() OVER (ORDER BY k, doc_id) - 1 AS pos FROM s"),
    )
  }
}
