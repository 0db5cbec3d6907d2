package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Html, HtmlExtractor}
import graft.gen.{HtmlGen, PdfGen}

/** SQL-surface kernel expressions (graft.functions): extension
  * registration, codegen participation, and equality with the typed
  * kernel path.
  */
class FunctionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("functions-spec")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  private def words(n: Int, seed: Int) = {
    val pool = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    (0 until n).map(i => pool((i * 31 + seed) % pool.length)).mkString(" ")
  }

  test("extract_text via SQL == typed kernel output; pdf pages count") {
    val s = spark; import s.implicits._
    val rows = (0L to 20L).map { id =>
      val bytes =
        if (id % 5 == 4) PdfGen.render(id, words(150, id.toInt))
        else HtmlGen.render(id, words(60, id.toInt), "en")
      (id, bytes)
    }
    rows.toSeq.toDF("id", "html").createOrReplaceTempView("pages_v")
    val out = spark.sql(
      "SELECT id, extract_text(html) AS text, extract_pages(html) AS pages FROM pages_v")
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getInt(2))).toMap
    rows.foreach { case (id, bytes) =>
      val expect = graft.core.Extractors
        .forType(graft.core.ContentType.detect(bytes)).get
        .extract(bytes, Html.Deadline.unlimited)
      assert(out(id)._1 == expect.text, s"text mismatch for doc $id")
      assert(out(id)._2 == expect.pages, s"pages mismatch for doc $id")
    }
  }

  test("extract_text / extract_pages answer what the pipeline answers: its text for ok rows, NULL for the rest") {
    val s = spark; import s.implicits._
    val pages = graft.gen.PagesGen.fromDocuments(spark, "/root/testdata/sf0.001")
    val results = graft.spark.ExtractPipeline.run(pages)(spark).collect()
      .map(r => r.url -> r).toMap
    val sql = pages.toDF().selectExpr("url", "extract_text(html)", "extract_pages(html)")
      .collect()
    assert(sql.nonEmpty && results.values.exists(_.status != graft.core.Status.Ok))
    sql.foreach { row =>
      val r = results(row.getString(0))
      if (r.status == graft.core.Status.Ok) {
        assert(row.getString(1) == r.text, s"text mismatch for ${r.url}")
        assert(row.getInt(2) == r.pages, s"pages mismatch for ${r.url}")
      } else assert(row.isNullAt(1) && row.isNullAt(2), s"${r.url} (${r.status}) is not NULL")
    }
  }

  test("unknown format and null yield SQL NULL (error-as-data)") {
    val s = spark; import s.implicits._
    Seq((1L, HtmlGen.junkBytes(7L)), (2L, null.asInstanceOf[Array[Byte]]))
      .toDF("id", "html").createOrReplaceTempView("junk_v")
    val out = spark.sql("SELECT extract_text(html), extract_pages(html) FROM junk_v").collect()
    out.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
  }

  test("min_k_longs: bounded heap aggregate — exact, partial-merge-safe, null-safe") {
    val s = spark; import s.implicits._
    // registered via the session extension AND imperatively (idempotent)
    graft.functions.GraftFunctions.ensureRegistered(spark)
    val rows = (0L until 1000L).map(i => ((i % 7).toString, (i * 2654435761L) % 100003L)) ++
      Seq(("g0", -5L), ("g0", -5L)) // duplicates + negatives survive
    val df = rows.toDF("g", "v").repartition(11) // force multi-partition partial merge
    val out = df.groupBy("g").agg(expr("min_k_longs(v, 5)").as("m"))
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    val truth = rows.groupBy(_._1).map { case (g, vs) =>
      g -> vs.map(_._2).sorted.take(5).toSeq }
    assert(out == truth, s"min-5 per group must be exact: $out vs $truth")
    // k larger than the group returns the whole group, ascending
    val small = Seq(("a", 3L), ("a", 1L)).toDF("g", "v")
      .groupBy("g").agg(expr("min_k_longs(v, 10)")).collect()(0).getSeq[Long](1)
    assert(small == Seq(1L, 3L))
    // nulls are ignored, not counted
    val withNull = Seq(("a", Some(2L)), ("a", None), ("a", Some(1L)))
      .toDF("g", "v").groupBy("g").agg(expr("min_k_longs(v, 2)"))
      .collect()(0).getSeq[Long](1)
    assert(withNull == Seq(1L, 2L))
    // non-literal k fails at plan build, not at runtime
    intercept[Exception] {
      Seq(("a", 1L)).toDF("g", "v").groupBy("g")
        .agg(expr("min_k_longs(v, v)")).collect()
    }
    // an INT column coerces to BIGINT at analysis (ImplicitCastInputTypes)
    val ints = Seq(("a", 3), ("a", 1)).toDF("g", "v")
      .groupBy("g").agg(expr("min_k_longs(v, 1)")).collect()(0).getSeq[Long](1)
    assert(ints == Seq(1L))
    // a NULL or non-numeric k literal fails at plan build with a clear error
    intercept[Exception] {
      Seq(("a", 1L)).toDF("g", "v").groupBy("g")
        .agg(expr("min_k_longs(v, NULL)")).collect()
    }
  }

  test("expression participates in whole-stage codegen") {
    val s = spark; import s.implicits._
    // a local relation constant-folds to LocalTableScan (interpreted), so
    // drive the expression from a real scan
    val dir = java.nio.file.Files.createTempDirectory("fnspec").toString
    (0L to 8L).map(id => (id, HtmlGen.render(id, words(40, id.toInt), "en")))
      .toDF("id", "html").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).selectExpr("length(extract_text(html)) AS n")
    val exec = df.queryExecution.executedPlan
    // the starred nodes ("*(1) Project") are WholeStageCodegenExec spans
    val inCodegen = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(inCodegen.nonEmpty, s"no WholeStageCodegenExec in:\n$exec")
    assert(!exec.toString.contains("CodegenFallback"), s"fell back to interpretation:\n$exec")
    assert(df.collect().forall(_.getInt(0) > 0))
  }

  test("dot_d / l2_sq: bit-identical to their aggregate(zip_with) folds, null contract") {
    val s = spark; import s.implicits._
    val vecs = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(1e-300, 1e300, -1.0), Seq(1e300, 1e-300, 1.0)),
      (Seq(1e16, 1.0, -1e16), Seq(1.0, 1.0, 1.0)),
      (Seq(-0.5, 0.25, 0.125), Seq(0.125, -0.25, 0.5)))
    val df = vecs.toDF("a", "b")
    val fused = df.selectExpr("dot_d(a, b) AS d", "l2_sq(a, b) AS l").collect()
      .map(r => (r.getDouble(0), r.getDouble(1)))
    val folds = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 as double), (s, x) -> s + x) AS d",
      "aggregate(zip_with(a, b, (p, x) -> (p - x) * (p - x)), cast(0 as double), (s, x) -> s + x) AS l")
      .collect().map(r => (r.getDouble(0), r.getDouble(1)))
    fused.zip(folds).zipWithIndex.foreach { case (((fd, fl), (gd, gl)), i) =>
      assert(java.lang.Double.doubleToRawLongBits(fd) == java.lang.Double.doubleToRawLongBits(gd),
        s"dot pair $i: $fd != $gd")
      assert(java.lang.Double.doubleToRawLongBits(fl) == java.lang.Double.doubleToRawLongBits(gl),
        s"l2 pair $i: $fl != $gl")
    }
    // length-mismatch / null-element poisoning
    val edge = spark.sql(
      "SELECT dot_d(array(1.0d, 2.0d), array(1.0d)) AS a, " +
        "l2_sq(array(1.0d), array(1.0d, 2.0d)) AS b, " +
        "dot_d(array(1.0d, cast(null as double)), array(1.0d, 2.0d)) AS c").head()
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
    // NOTE the l2 fold order in the lambda is (p - x): codebook/centroid
    // element first, data element second — the kernel subtracts a - b in
    // argument order, so callers pass (centroid, vector) exactly as the
    // lambdas did. (x-y)^2 == (y-x)^2 makes the VALUE symmetric anyway;
    // the pin is about the accumulation order.
  }

  test("cosine_sim: bit-identical to the aggregate(zip_with) folds, null/NaN contract, codegen") {
    val s = spark; import s.implicits._
    // adversarial doubles: denormal-ish, huge, negative, non-associative
    // magnitudes — if the kernel's fold order differed from the lambda
    // chain's, one of these pairs would differ in the last ulp
    val vecs = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(1e-300, 1e300, -1.0), Seq(1e300, 1e-300, 1.0)),
      (Seq(0.1, 0.2, 0.3), Seq(0.3, 0.2, 0.1)),
      (Seq(1e16, 1.0, -1e16), Seq(1.0, 1.0, 1.0)),
      (Seq(-0.5, 0.25, 0.125), Seq(0.125, -0.25, 0.5)))
    val df = vecs.toDF("a", "b")
    val fused = df.selectExpr("cosine_sim(a, b) AS c").collect().map(_.getDouble(0))
    val folds = df.selectExpr(
      "aggregate(zip_with(a, b, (x, y) -> x * y), cast(0 as double), (s, x) -> s + x) / " +
        "(sqrt(aggregate(zip_with(a, a, (x, y) -> x * y), cast(0 as double), (s, x) -> s + x)) * " +
        "sqrt(aggregate(zip_with(b, b, (x, y) -> x * y), cast(0 as double), (s, x) -> s + x))) AS c")
      .collect().map(_.getDouble(0))
    fused.zip(folds).zipWithIndex.foreach { case ((f, g), i) =>
      assert(java.lang.Double.doubleToRawLongBits(f) == java.lang.Double.doubleToRawLongBits(g),
        s"pair $i: fused $f != folds $g (bit-level)")
    }
    // length mismatch and null element -> SQL NULL (zip_with poisoning)
    val edge = spark.sql(
      "SELECT cosine_sim(array(1.0d, 2.0d), array(1.0d)) AS short, " +
        "cosine_sim(array(1.0d, cast(null as double)), array(1.0d, 2.0d)) AS ne, " +
        "cosine_sim(cast(null as array<double>), array(1.0d)) AS na, " +
        "cosine_sim(array(0.0d, 0.0d), array(1.0d, 2.0d)) AS zero").head()
    assert(edge.isNullAt(0) && edge.isNullAt(1) && edge.isNullAt(2))
    assert(edge.getDouble(3).isNaN, "zero vector must yield NaN (0/0), as the folds do")
    // stays inside whole-stage codegen, no fallback — input comes from a
    // parquet scan (a local relation would constant-fold; a transform()
    // lambda in the same projection is itself CodegenFallback and would
    // mask the assertion)
    val dir = java.nio.file.Files.createTempDirectory("cos-codegen").toString
    spark.range(100).selectExpr(
      "transform(sequence(0, 15), i -> cast(i * id + 1 as double)) AS a",
      "transform(sequence(0, 15), i -> cast(i + id as double)) AS b")
      .write.mode("overwrite").parquet(dir)
    val plan = spark.read.parquet(dir).selectExpr("cosine_sim(a, b) AS c")
    plan.collect()
    val exec = plan.queryExecution.executedPlan
    val spans = exec.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.exists(_.toString.contains("cosine_sim")),
      s"cosine_sim projection not inside a WholeStageCodegen span:\n$exec")
    assert(!exec.toString.contains("CodegenFallback"), s"fell back:\n$exec")
  }
}
