package graft

import org.apache.spark.sql.functions._

/** Independent brute-force validation of the window-coverage
  * equivalence behind `llm_substring_exact`: a position must be cut
  * iff it lies inside SOME substring of >= L tokens occurring >= 2
  * times in the corpus (any two occurrences — within-doc included).
  * The operator decides this via duplicated exactly-L windows; this
  * spec re-derives the cut set by enumerating EVERY substring of
  * every length >= L over a hand-built corpus and comparing the
  * surviving documents verbatim. The oracle SQL mirrors the
  * operator's own formulation, so only a from-first-principles check
  * like this one actually tests the equivalence claim. */
class SubstringExactSpec extends SparkTestBase {

  private val L = 5

  // Corpus exercising: a within-doc repeat (doc 1 — invisible to the
  // cross-doc 3-gram formulation), a cross-doc duplicate span inside
  // otherwise-unique text (docs 2/3), a mosaic (docs 4/5/6 pairwise
  // share short fragments whose union appears nowhere twice), a doc
  // below one window (7), and an exact full duplicate pair (8/9).
  private val corpus: Seq[(Long, String)] = Seq(
    1L -> "a b c d e STOP a b c d e",
    2L -> "u1 u2 the quick brown fox jumps u3 u4",
    3L -> "v1 the quick brown fox jumps v2 v3 v4",
    4L -> "m1 m2 m3 w x m4 m5 m6 m7",
    5L -> "n1 w x y n2 n3 n4 n5 n6",
    6L -> "o1 o2 x y z o3 o4 o5 o6",
    7L -> "tiny doc here",
    8L -> "dup1 dup2 dup3 dup4 dup5 dup6",
    9L -> "dup1 dup2 dup3 dup4 dup5 dup6")

  private lazy val dir: String = {
    val d = tempDir("graft_substr_exact").toString
    val rows = corpus.map { case (id, text) =>
      (id, text, "en", s"src$id", text.length.toLong)
    }
    import spark.implicits._
    rows.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  /** Brute force: count every (length >= L)-token substring across the
    * corpus (all occurrences, overlapping included), then mark every
    * position covered by a substring with >= 2 occurrences. */
  private def bruteForceCuts: Map[Long, Set[Int]] = {
    val toks = corpus.map { case (id, t) => id -> t.split(" ") }
    val counts = scala.collection.mutable.Map.empty[Seq[String], Int]
    for ((_, ts) <- toks; len <- L to ts.length; i <- 0 to ts.length - len)
      counts(ts.slice(i, i + len).toSeq) =
        counts.getOrElse(ts.slice(i, i + len).toSeq, 0) + 1
    toks.map { case (id, ts) =>
      val cut = (for {
        len <- L to ts.length
        i <- 0 to ts.length - len
        if counts(ts.slice(i, i + len).toSeq) >= 2
        p <- i until i + len
      } yield p).toSet
      id -> cut
    }.toMap
  }

  test("operator cut set matches all-lengths brute force on every doc") {
    val got = queries.LlmText.substringExact(spark, dir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3)))
      .toMap
    val cuts = bruteForceCuts
    assert(got.keySet == corpus.map(_._1).toSet, "every doc must report")
    corpus.foreach { case (id, text) =>
      val ts = text.split(" ")
      val cut = cuts(id)
      val kept = ts.indices.filterNot(cut).map(ts)
      val (nb, na, md5hex) = got(id)
      assert(nb == ts.length.toLong, s"doc $id n_tokens_before")
      assert(na == kept.length.toLong,
        s"doc $id survivors: operator kept $na, brute force ${kept.length}")
      val expectedMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.mkString(" ").getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(md5hex == expectedMd5, s"doc $id cleaned text diverged")
    }
    // sanity on the corpus design itself: the within-doc repeat is cut
    // (both copies), the mosaic docs are untouched, the full-dup pair
    // is fully cut, the short doc is fully kept.
    assert(cuts(1L) == (0 to 4).toSet ++ (6 to 10).toSet)
    assert(cuts(4L).isEmpty && cuts(5L).isEmpty && cuts(6L).isEmpty)
    assert(cuts(8L) == (0 to 5).toSet && cuts(9L) == (0 to 5).toSet)
    assert(cuts(7L).isEmpty)
  }
}
