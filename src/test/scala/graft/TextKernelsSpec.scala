package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.GraftFunctions
import graft.queries.LlmText

/** The staging index's native per-row kernels, `word_shingles`,
  * `md5_band_hashes` and `sorted_intersect_size`, give exactly what the
  * built-in formulas they replaced give, row for row, both inside
  * whole-stage codegen and interpreted. */
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

  /** Pairs of sorted, distinct long arrays, as `withJaccard` builds them. */
  private val sortedPairs: Seq[(String, Seq[Long], Seq[Long])] = {
    val rnd = new scala.util.Random(11)
    def draw(n: Int): Seq[Long] = rnd.shuffle((0L until 10000L).toVector).take(n).sorted
    val big = draw(5000)
    Seq(
      ("both empty", Seq.empty, Seq.empty),
      ("left empty", Seq.empty, Seq(1L, 2L)),
      ("right empty", Seq(-3L, 4L), Seq.empty),
      ("identical", Seq(-5L, 0L, 7L, 9L), Seq(-5L, 0L, 7L, 9L)),
      ("disjoint", Seq(1L, 3L, 5L), Seq(2L, 4L, 6L)),
      ("interleaved", Seq(1L, 2L, 4L, 7L, 8L, 10L), Seq(0L, 2L, 3L, 7L, 10L, 11L)),
      ("negatives and extremes", Seq(Long.MinValue, -9L, -1L, 0L, Long.MaxValue),
        Seq(Long.MinValue, -1L, 5L, Long.MaxValue)),
      ("only the extremes", Seq(Long.MinValue), Seq(Long.MaxValue)),
      ("5,000 elements each", big, draw(5000)),
      ("5,000 elements, identical", big, big),
      ("5,000 elements and a few", big, Seq(-1L, big(17), big(4999), 10000L)))
  }

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

    test(s"sorted_intersect_size equals size(array_intersect) ($mode)") {
      withConf(conf) {
        val pairs = sortedPairs.zipWithIndex.map { case ((_, a, b), i) => (i, a, b) }
          .toDF("id", "a", "b").repartition(2)
        val ds = pairs.select($"id",
          GraftFunctions.sortedIntersectSize($"a", $"b"),
          size(array_intersect($"a", $"b"))).as[(Int, Int, Int)]
        val got = ds.collect().map { case (id, n, want) => id -> (n, want) }.toMap
        assert(got.size == sortedPairs.length)
        sortedPairs.zipWithIndex.foreach { case ((name, a, b), id) =>
          assert(got(id) == ((a.intersect(b).size, a.intersect(b).size)), name)
        }
        assert(got(sortedPairs.indexWhere(_._1 == "5,000 elements, identical"))._1 == 5000)
        if (mode == "codegen") {
          val plan = ds.queryExecution.executedPlan.toString
          assert(plan.linesIterator.exists(l =>
            l.contains("sorted_intersect_size") && l.contains("*(")),
            s"sorted_intersect_size is not in a whole-stage codegen stage:\n$plan")
        }
      }
    }

    test(s"sorted_intersect_size fails on unsorted or repeated input ($mode)") {
      withConf(conf) {
        for ((a, b) <- Seq(
            (Seq(1L, 3L, 2L), Seq(0L, 2L, 3L)), // inversion in a
            (Seq(0L, 2L, 3L), Seq(2L, 1L)),     // inversion in b
            (Seq(1L, 1L, 2L), Seq(1L, 2L)))) {  // a repeated value
          val df = Seq((a, b)).toDF("a", "b").repartition(1)
            .select(GraftFunctions.sortedIntersectSize($"a", $"b"))
          val e = intercept[Exception](df.collect())
          val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(t => String.valueOf(t.getMessage))
          assert(msgs.exists(_.contains("not sorted ascending and distinct")), s"$a, $b: $e")
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
