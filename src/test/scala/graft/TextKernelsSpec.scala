package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions
import graft.queries.LlmText

/** The staging index's native per-row kernels, `word_shingles` and
  * `md5_band_hashes`, give exactly what the built-in formulas they
  * replaced give, row for row, both inside whole-stage codegen and
  * interpreted. */
class TextKernelsSpec extends SparkTestBase {
  import spark.implicits._

  /** The 5,000-token document: seeded words of 1 to 6 letters. */
  private val longDoc = {
    val rnd = new scala.util.Random(7)
    Seq.fill(5000)(rnd.alphanumeric.filter(_.isLetter).take(1 + rnd.nextInt(6)).mkString)
      .mkString(" ")
  }

  private val texts: Seq[String] = Seq(
    null, "", "one", "one two", "one two three", "a  b   c d", "  lead and trail  ",
    "é à ü ß ñ", "東京 タワー 大阪 城 京都", "😀 🎉 😀 🎉 emoji ✓", "a# #b c#d # ##",
    "repeat repeat repeat repeat", longDoc)

  /** The text table behind a shuffle, so the projections above it run
    * in the mode under test rather than being folded into a local
    * relation by the optimizer. */
  private def corpus: DataFrame =
    texts.zipWithIndex.map { case (t, i) => (i, t) }.toDF("id", "text").repartition(2)

  /** The word 3-gram formula `word_shingles` replaced. */
  private def oldShingles(tokens: Column): Column =
    when(size(tokens) < 3, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(tokens) - 3),
        i => concat_ws(" ", get(tokens, i), get(tokens, i + 1), get(tokens, i + 2))))

  /** Band `b`'s 8 hex digits of the md5 digests, as the DuckDB twin
    * slices them. */
  private def hexSlice(sh: Column, b: Int): Column = {
    val h = if (b < 4) md5(sh) else md5(concat(sh, lit("#")))
    substring(h, (b % 4) * 8 + 1, 8)
  }

  /** Band word `b` as it was parsed from the hex slice. */
  private def oldBandHash(sh: Column, b: Int): Column =
    conv(hexSlice(sh, b), 16, 10).cast("long")

  private val modes = Seq(
    "codegen" -> Seq("spark.sql.codegen.wholeStage" -> "true",
      "spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY"),
    "interpreted" -> Seq("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN"))

  private def withConf[T](kvs: Seq[(String, String)])(body: => T): T = {
    val old = kvs.map { case (k, _) => k -> spark.conf.getOption(k) }
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  for ((mode, conf) <- modes) {
    test(s"word_shingles equals the transform/concat_ws formula ($mode)") {
      withConf(conf) {
        val t = corpus.select($"id", split($"text", " ").as("t"))
        // apart: a CodegenFallback expression (the lambda) keeps its
        // whole projection out of whole-stage codegen
        val ds = t.select($"id", GraftFunctions.wordShingles($"t")).as[(Int, Seq[String])]
        val byId = ds.collect().toMap
        val want = t.select($"id", oldShingles($"t")).as[(Int, Seq[String])].collect().toMap
        assert(byId.size == texts.length)
        texts.indices.foreach(id => assert(byId(id) == want(id), s"text #$id: ${texts(id)}"))
        assert(byId(texts.indexOf(null)) == Seq.empty)
        assert(byId(texts.indexOf("one two")) == Seq.empty)
        assert(byId(texts.indexOf("one two three")) == Seq("one two three"))
        assert(byId(texts.indexOf("a  b   c d")).head == "a  b")
        assert(byId(texts.indexOf(longDoc)).length == 4998)
        if (mode == "codegen") {
          // the final adaptive plan, known once the query has run
          val plan = ds.queryExecution.executedPlan.toString
          assert(plan.linesIterator.exists(l =>
            l.contains("word_shingles") && l.contains("*(")),
            s"word_shingles is not in a whole-stage codegen stage:\n$plan")
        }
      }
    }

    test(s"md5_band_hashes equals the hex-slice conv formula ($mode)") {
      withConf(conf) {
        // every shingle of the corpus, plus each whole text (null, "",
        // '#'-bearing, non-ASCII and the 5,000-token one among them)
        val strings = corpus.select(
            explode(GraftFunctions.wordShingles(split($"text", " "))).as("sh"))
          .unionByName(corpus.select($"text".as("sh")))
          .repartition(2)
        val df = strings.select($"sh", GraftFunctions.md5BandHashes($"sh").as("new"),
          array((0 until 8).map(b => oldBandHash($"sh", b)): _*).as("old"))
        val ds = df.as[(String, Option[Seq[Long]], Seq[Option[Long]])]
        val rows = ds.collect()
        assert(rows.length > 5000)
        if (mode == "codegen") {
          val plan = ds.queryExecution.executedPlan.toString
          assert(plan.linesIterator.exists(l =>
            l.contains("md5_band_hashes") && l.contains("*(")),
            s"md5_band_hashes is not in a whole-stage codegen stage:\n$plan")
        }
        rows.foreach {
          case (null, got, want) =>
            assert(got.isEmpty && want.forall(_.isEmpty), "null string")
          case (sh, got, want) =>
            assert(got.contains(want.flatten) && want.length == 8, s"'$sh'")
        }
      }
    }
  }

  test("the signature memo equals the hex-string min over the same shingles") {
    val sh = LlmText.shinglePositionsBuildPlan(spark, sf)
    val mins = (0 until 8).map(b => min(hexSlice($"sh", b)).as(s"s$b"))
    val old = sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
      .select($"doc_id", explode(array((0 until 8).map(b =>
        struct(lit(b).as("band"), col(s"s$b").as("sig"))): _*)).as("x"))
      .select($"doc_id", $"x.band", $"x.sig")
    val now = LlmText.minhashSignatures(spark, sf).select("doc_id", "band", "sig")
    assert(now.count() == old.count() && now.count() > 0)
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
  }
}
