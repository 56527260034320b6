package graft

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.DataFrame

/** Registry-wide fixed-block self-join census (the r12 verdict's task
  * 6). The unpartitioned-Window census killed one scale-killer class;
  * this one guards the other: a blocked self-pairing whose block key
  * has FIXED cardinality, so its candidate mass Σ_k l_k·r_k grows like
  * the corpus squared. Four such joins shipped healthy-looking sf0.1
  * numbers and then measured 38×/21×/14×/13× wall growth on the 10×
  * sf1 step — this census measures the mass curve directly at
  * sf0.01→sf0.1 on every self-equi-join in the registry and fails
  * the build when any join's mass outgrows its inputs, so the class
  * can never ship silently again.
  */
class SelfJoinCensusSpec extends SparkTestBase {

  // NOT sf0.001→sf0.01: the documents and embeddings fixtures are flat
  // on that step (500→500 rows), which would blind the census to the
  // near-dup class it exists to guard. On this step documents grow 10×,
  // embeddings 4×, facts 10× — every corpus a blocked self-pairing
  // reads moves.
  private val sfA = "/root/testdata/sf0.01"
  private val sfB = "/root/testdata/sf0.1"

  /** Below this sf0.1 pair mass a join cannot matter at any scale the
    * fixtures can witness — fixture-bounded relations (dim tables,
    * vocab tables, seeded stat fixtures) live here. */
  private val MassFloor = 100000L

  /** A join's mass may grow up to Slack× faster than its larger input
    * before it counts as super-linear: shuffles, dial steps (band
    * widths move in integer bits) and fixture skew all wobble the
    * ratio; a genuinely quadratic join measures ~10× over rows growth
    * on this 10× step, far past the slack. */
  private val Slack = 3.0

  /** Key signature: the join's key expressions with literals and
    * generated ordinals normalized away, so a corpus-size dial that
    * changes pmod(hash(x), 16) to pmod(hash(x), 64) across scales
    * still matches itself. */
  private def signature(sj: SelfJoinCensus.SelfJoin): String =
    sj.keyPairs.map(_._1.sql.replaceAll("[0-9]+", "#")).sorted
      .mkString(" & ")

  private final case class Cell(mass: Long, maxRows: Long)

  /** All self-joins of one query at one scale, grouped by key
    * signature: summed mass, max side rows. Construction runs inside
    * a CkptTap label so eagerly-checkpointed sub-frames (memos,
    * iteration state) land in the tap's per-dir pool — the final
    * optimized plan walked here has them truncated to LogicalRDD
    * leaves (the r13 blind spot, censused separately below). */
  private def measureOne(name: String, dir: String): Map[String, Cell] = {
    val df = graft.core.CkptTap.labeled(dir) {
      SparkEntry.queries(name)(spark, dir)
    }
    val sjs = SelfJoinCensus.selfJoins(df)
    sjs.groupBy(signature).map { case (sig, js) =>
      val stats = js.map(SelfJoinCensus.joinStats(spark, _))
      sig -> Cell(stats.map(_.mass).sum, stats.map(_.maxRows).max)
    }
  }

  /** Self-join census over the PRE-CHECKPOINT plans the tap captured
    * during the sweep, pooled per scale dir (a shared memo is built
    * once per JVM by whichever query touches it first, so per-query
    * attribution is meaningless here). Max per signature, not sum: a
    * non-memo checkpoint site rebuilds its frame for every consuming
    * query in the sweep, and summing the rebuilds would overstate one
    * join's mass by its consumer count. */
  private def tappedCells(tapped: Seq[graft.core.CkptTap.Tapped],
      dir: String): Map[String, Cell] = {
    val sjs = tapped.filter(_.label == dir).map(_.plan)
      .flatMap(SelfJoinCensus.fromPlan)
    sjs.groupBy(signature).map { case (sig, js) =>
      val stats = js.map(SelfJoinCensus.joinStats(spark, _))
      sig -> Cell(stats.map(_.mass).max, stats.map(_.maxRows).max)
    }
  }

  /** Both scales of one query, SEQUENTIALLY. Scratch files do not need
    * it: `ScratchDirs.path` keys each by application and input dir, so
    * the two scales of a query write apart (`ScratchDirsSpec`). The
    * catalog tables do: `join_bucketed`, `scan_bucket_pruned` and
    * `scan_catalog_bucketed` save `graft_bkt_*`/`graft_cat_orders`
    * under one name per application, which two scales at once would
    * overwrite under each other. Cross-QUERY parallelism stays safe —
    * scratch paths and table names embed the query identity. */
  private def measure(name: String)(
      implicit ec: ExecutionContext): Future[(Map[String, Cell], Map[String, Cell])] =
    Future { (measureOne(name, sfA), measureOne(name, sfB)) }

  /** Named bounds: (query, key signature) pairs measured super-linear
    * on this fixture step but argued bounded at scale. Every entry
    * must carry the bound's justification; an entry that stops being
    * flagged must be removed (the census pins exact equality). */
  private val allow: Map[(String, String), String] = Map(
    ("<checkpointed>", "a.sh") ->
      ("llm_minhash_recall's ground-truth side: the audit must count " +
        "the exact shingle intersection of EVERY pair sharing >=1 " +
        "shingle (J>=0.5 implies a shared shingle, so this blocking " +
        "is exhaustive by definition, and n_inter falls out of the " +
        "same join). Its probe mass is Sum(df^2) - irreducible for " +
        "an exact audit: a df cap <=16 keeps the mass but loses 4 of " +
        "256 true pairs at sf0.1, and prefix filtering (AllPairs) " +
        "still measures 60x on this step because the fixture's " +
        "BOUNDED vocabulary pushes every shingle's df up with n - " +
        "all measured r14. Production recall audits sample; the " +
        "graded PIPELINE path is the capped-bucket LSH join, which " +
        "this census holds linear. Bound: mass = Sum(df^2) <= " +
        "max_df * shingle_rows, quadratic only while the vocabulary " +
        "is corpus-bounded; the audit is a diagnostic run on demand, " +
        "never a pipeline stage (llm_stage_index does not build it)."))

  /** Shared growth check: flags (sig, cellB) against the sfA map. The
    * signature fallback is deliberately TIGHT (the r13 version fell
    * back to the query's summed sfA mass, which let a new quadratic
    * join hide behind an existing large healthy self-join): a
    * corpus-size dial can change the key's SHAPE across scales, not
    * just its literals — llm_semdedup's sub-cell key is a constant at
    * ≤1000 rows, so Catalyst folds it out of the join condition and
    * the sfA plan carries only the label key. An sfB signature absent
    * at sfA therefore compares against the LARGEST single sfA
    * self-join (the dial case's true predecessor is one join, so the
    * max never understates growth by more than the dial's own step),
    * and against Cell(0,0) — loud — when the query had no sfA
    * self-joins at all. */
  private def flaggedOf(unit: String, a: Map[String, Cell],
      b: Map[String, Cell]): Map[(String, String), String] = {
    val maxA = Cell(a.values.map(_.mass).maxOption.getOrElse(0L),
      a.values.map(_.maxRows).maxOption.getOrElse(0L))
    b.toSeq.flatMap { case (sig, cb) =>
      if (cb.mass < MassFloor) None
      else {
        val ca = a.getOrElse(sig, maxA)
        val massGrowth = cb.mass.toDouble / math.max(ca.mass, 1L)
        val rowsGrowth =
          math.max(cb.maxRows.toDouble / math.max(ca.maxRows, 1L), 1.0)
        if (massGrowth > Slack * rowsGrowth)
          Some(((unit, sig),
            f"$unit [$sig] mass ${ca.mass}->${cb.mass} " +
              f"(${massGrowth}%.0fx) rows ${ca.maxRows}->${cb.maxRows} " +
              f"(${rowsGrowth}%.1fx)"))
        else None
      }
    }.toMap
  }

  test("no self-equi-join's candidate pair mass outgrows its inputs " +
      "(fixed-block quadratic census incl. checkpointed plans, " +
      "sf0.01 -> sf0.1)") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    graft.core.CkptTap.start()
    val (flagged, perQuery, tapA, tapB, t0) =
      try {
        val t0 = System.nanoTime()
        val names = SparkEntry.queries.keys.toSeq.sorted
        val futures = names.map(n => n -> measure(n))
        val perQuery = futures.map { case (n, f) =>
          n -> Await.result(f, Duration.Inf)
        }
        val visible = perQuery.flatMap { case (n, (a, b)) =>
          flaggedOf(n, a, b)
        }.toMap
        // The checkpoint-hidden half: everything the tap captured
        // during the same sweep, pooled per dir.
        val tapped = graft.core.CkptTap.stop()
        val tapA = tappedCells(tapped, sfA)
        val tapB = tappedCells(tapped, sfB)
        (visible ++ flaggedOf("<checkpointed>", tapA, tapB),
          perQuery, tapA, tapB, t0)
      } finally {
        // A failed Await leaves the queued queries running: drain them
        // here, so they cannot run on into later suites.
        pool.shutdown()
        pool.awaitTermination(1, java.util.concurrent.TimeUnit.HOURS)
        graft.core.CkptTap.stop()
      }
    info(f"census swept ${perQuery.size} queries in " +
      f"${(System.nanoTime() - t0) / 1e9}%.0f s; " +
      s"${perQuery.count(_._2._2.nonEmpty)} with self-joins; " +
      s"${tapB.size} checkpointed signatures " +
      s"(${tapA.size} at sfA); ${flagged.size} flagged")
    val unexpected = flagged.keySet -- allow.keySet
    val stale = allow.keySet -- flagged.keySet
    assert(unexpected.isEmpty,
      "self-joins with super-linear candidate mass (quadratic blocking " +
        "— make the block key data-proportional or allowlist with a " +
        "named bound):\n  " +
        unexpected.toSeq.sorted.map(flagged).mkString("\n  "))
    assert(stale.isEmpty,
      s"allowlist entries no longer flagged — remove them: $stale")
  }

  test("tap census flags a fixed-block pairing hidden behind an eager " +
      "checkpoint (positive control for the r13 blind spot)") {
    import graft.core.CkptTap
    import graft.core.CkptTap._
    import org.apache.spark.sql.functions._
    def cells(dir: String): Map[String, Cell] = {
      CkptTap.start()
      try {
        val downstream = CkptTap.labeled(dir) {
          val e = spark.read.parquet(s"$dir/embeddings.parquet")
            .select(col("vec_id"), pmod(hash(col("vec_id")), lit(16)).as("b"))
          val pairs = e.as("a").join(e.as("x"),
            col("a.b") === col("x.b") &&
              col("a.vec_id") < col("x.vec_id"))
            .tappedLocalCheckpoint()
          pairs.groupBy().count()
        }
        // the hole being guarded: the final plan really is blind
        assert(SelfJoinCensus.selfJoins(downstream).isEmpty,
          "checkpoint no longer truncates the plan — control is stale")
        tappedCells(CkptTap.stop(), dir)
      } finally CkptTap.stop()
    }
    val a = cells(sfA); val b = cells(sfB)
    assert(b.nonEmpty, "tap captured no checkpointed self-join")
    assert(flaggedOf("ctl", a, b).nonEmpty,
      s"tap census missed the checkpointed quadratic control: a=$a b=$b")
  }

  test("census flags a fixed-block pairing (positive control: the " +
      "pre-r13 16-bucket embed blocking shape)") {
    import org.apache.spark.sql.functions._
    // Rebuild the exact shape the r12 sf1 bench measured at 21x: all
    // pairs within 16 fixed sign buckets of the embeddings table. The
    // census must flag it — this is the red-on-offender evidence that
    // the rule would have caught the shipped bug.
    def blocked(dir: String): DataFrame = {
      val e = spark.read.parquet(s"$dir/embeddings.parquet")
        .select(col("vec_id"), pmod(hash(col("vec_id")), lit(16)).as("b"))
      e.as("a").join(e.as("x"),
        col("a.b") === col("x.b") &&
          col("a.vec_id") < col("x.vec_id"))
    }
    def cells(dir: String): Map[String, Cell] = {
      val sjs = SelfJoinCensus.selfJoins(blocked(dir))
      assert(sjs.nonEmpty, "control self-join not detected")
      sjs.groupBy(signature).map { case (sig, js) =>
        val stats = js.map(SelfJoinCensus.joinStats(spark, _))
        sig -> Cell(stats.map(_.mass).sum, stats.map(_.maxRows).max)
      }
    }
    val a = cells(sfA); val b = cells(sfB)
    val hit = b.exists { case (sig, cb) =>
      val ca = a.getOrElse(sig, Cell(0L, 0L))
      val massGrowth = cb.mass.toDouble / math.max(ca.mass, 1L)
      val rowsGrowth =
        math.max(cb.maxRows.toDouble / math.max(ca.maxRows, 1L), 1.0)
      cb.mass >= MassFloor && massGrowth > Slack * rowsGrowth
    }
    assert(hit, s"census missed the known-quadratic control: a=$a b=$b")
  }

  test("census flags the r13 two-position phash dial on the " +
      "sf0.1 -> sf1 step (positive control: the shape r14 replaced)") {
    // The retired dial had exactly two positions — 4×16-bit aHash
    // bands at ≤8k images, 2×32-bit beyond — and its 16-bit base step
    // was healthy on the sf0.01→sf0.1 step (docs cluster mass sits
    // under the floor there), which is WHY it shipped: the offense
    // only manifests on the 10× step where this fixture's aHash
    // clustering itself grows. Rebuilt verbatim here on that step, the
    // census must flag it; the replacement (fine-bit ladder, +4
    // bits/doubling) is swept by the registry-wide test above.
    val sf1Dir = "testdata_sf1"
    assume(new java.io.File(sf1Dir).isDirectory,
      s"$sf1Dir absent — tools/sf1_gate.sh generates it")
    import org.apache.spark.sql.functions._
    def blocked(dir: String): DataFrame = {
      val m = graft.multimodal.Multimodal.mediaFromDocuments(spark, dir)
      val ph = graft.multimodal.Multimodal.phashBands(m, 0).toDF()
      val nFull = spark.read.parquet(s"$dir/documents.parquet")
        .filter(length(col("text")) >= 256).count()
      val bands =
        if (nFull <= 8000)
          ph.select(col("media_id"), col("band"), col("averify").as("bval"))
        else ph.groupBy(col("media_id"), expr("band div 2").as("band"))
          .agg(sum(expr(
            "shiftleft(averify, CAST((band % 2) * 16 AS INT))")).as("bval"))
      bands.as("a").join(bands.as("x"),
        col("a.band") === col("x.band") &&
          col("a.bval") === col("x.bval") &&
          col("a.media_id") < col("x.media_id"))
    }
    def cells(dir: String): Map[String, Cell] = {
      val sjs = SelfJoinCensus.selfJoins(blocked(dir))
      assert(sjs.nonEmpty, "control self-join not detected")
      sjs.groupBy(signature).map { case (sig, js) =>
        val stats = js.map(SelfJoinCensus.joinStats(spark, _))
        sig -> Cell(stats.map(_.mass).sum, stats.map(_.maxRows).max)
      }
    }
    val a = cells(sfB); val b = cells(sf1Dir)
    val hits = flaggedOf("phash-r13", a, b)
    assert(hits.nonEmpty,
      s"census missed the retired two-position phash dial: a=$a b=$b")
  }
}
