package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.QueryDef
import graft.core.Tables
import graft.core.CkptTap._

/** LLM-training-data text operators over `documents` (builder-brief
  * first-class surface): exact dedup, MinHash+LSH banded near-dedup,
  * n-gram Jaccard, SimHash, token stats, quality scoring, language-ID
  * heuristic, fingerprinting.
  *
  * Scale design: every near-dup path is *blocked* (LSH band buckets or
  * a natural blocking key) and joins on (block, feature) — never an
  * all-pairs cross join — so candidate generation stays linear-ish in
  * corpus size at 100 TB. Hashing uses md5 so the DuckDB oracle can
  * reproduce signatures bit-for-bit.
  */
object LlmText {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  private def toks(c: Column): Column = split(c, " ")

  /** Word 3-gram shingles (empty when the doc has <3 tokens), through
    * the native `word_shingles` kernel ([[graft.plans.WordShingles]]),
    * which stays inside whole-stage codegen. */
  private def shingles(tokens: Column): Column =
    graft.plans.GraftFunctions.wordShingles(tokens)

  private def fanout(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** DISTINCT (doc_id, source, shingle-hash): shingles as xxhash64
    * int64s, so the distinct and every downstream join shuffle 8-byte
    * keys instead of ~20-char strings. Collisions are ~n²/2⁶⁴ —
    * negligible against corpus sizes — and the hex-md5 signature path
    * never goes through this table, so oracle parity is untouched. */
  private def hashedShingleSet(raw: DataFrame): DataFrame =
    raw.select(col("doc_id"), col("source"), xxhash64(col("sh")).as("sh"))
      .distinct()

  // ------------------------------------------------------------- dedup

  /** Exact dedup: md5 of whitespace-collapsed lowercase text; keeper is
    * the smallest doc_id. One hash-partitioned aggregation — the 100 TB
    * plan is a single shuffle on the hash. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"),
        md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
          .as("norm_md5"))
      .groupBy("norm_md5")
      .agg(min(col("doc_id")).as("keeper_doc_id"),
        count(lit(1)).as("n_copies"))

  private val NBands = 8

  /** Per-(doc, band) MinHash signature. Two md5s per shingle, sliced
    * into 8 independent 32-bit band hashes (the words of the digests) — the
    * standard few-hashes trick: vs hashing once per band it cuts both
    * the hash work and the pre-aggregation row count 4×, which
    * dominated the whole LLM pipeline's bench time. (A 16-bit variant
    * was cheaper still but its band collisions flooded the verify step
    * with false candidates — measured net-slower.) Wide-then-stack
    * keeps it ONE aggregation pass.
    *
    * The min runs over each band word as an unsigned LONG (the native
    * `md5_band_hashes` kernel, [[graft.plans.Md5BandHashes]]: no hex
    * string is formatted and re-parsed per shingle), re-formatted to
    * 8-digit lowercase hex after aggregation: that hex is order-
    * isomorphic to its unsigned value, so the result is bit-identical
    * to the DuckDB twin's string min of hex slices — and a numeric agg
    * buffer plans as a map-side-partial HashAggregate where
    * min(string) falls back to SortAggregate (a full sort of the
    * exploded shingles). */
  def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    minhashSigs(s, dir)

  /** The signature table, memoized per (session, dir): it is the
    * QUERYABLE half of the LSH index ([[minhashNearDup]]'s pair table
    * is the materialized self-join result), and both the batch
    * near-dup path and the incremental batch-vs-corpus probe consume
    * exactly this relation — a real pipeline materializes it once and
    * probes it per batch. Built by [[stageIndex]] up front. */
  private def minhashSigs(s: SparkSession, dir: String): DataFrame =
    // Built FROM the staged position-stamped shingle stream (r16): the
    // sigs / shingleset / shpos memos each re-ran the corpus tokenize +
    // shingle explode from parquet; deriving the first two from the
    // shpos checkpoint tokenizes the corpus ONCE per staging build.
    // MinHash's min-aggregation is duplicate-insensitive, so the
    // position-retaining stream feeds it unchanged.
    memo(s, s"sigs:$dir")(
      minhashSigsFrom(shinglePositions(s, dir)).countedLocalCheckpoint())

  /** The UNMEMOIZED signature build plan, for plan-shape tests: the
    * graded query returns the staged checkpoint (a plan-free RDD
    * scan), so the hash-vs-sort aggregate property must be asserted
    * on the build side (composed over the shpos build it now
    * consumes, modulo the checkpoint boundary). */
  private[graft] def minhashSigsBuildPlan(s: SparkSession, dir: String): DataFrame =
    minhashSigsFrom(shinglePositionsBuildPlan(s, dir))

  private def minhashSigsFrom(sh: DataFrame): DataFrame = {
    val mins = (0 until NBands).map(b => min(col("h").getItem(b)).as(s"s$b"))
    val stackExpr = (0 until NBands)
      .map(b => s"$b, s$b").mkString(s"stack($NBands, ", ", ", ") AS (band, sigv)")
    sh.select(col("doc_id"), graft.plans.GraftFunctions.md5BandHashes(col("sh")).as("h"))
      .groupBy("doc_id")
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), expr(stackExpr))
      .select(col("doc_id"), col("band"),
        lower(lpad(hex(col("sigv")), 8, "0")).as("sig"))
  }

  /** Candidate-generation hot-bucket ceiling: a (band, sig) bucket
    * with more than this many members is SKIPPED by the LSH pair
    * join. An r=1 band collides a pair with probability equal to its
    * Jaccard, so bucket occupancy tracks shingle document frequency —
    * and hot shingles (boilerplate on a real corpus; the ENTIRE
    * bounded vocabulary of this fixture) make Σ n_b² grow like the
    * corpus SQUARED: the r14 checkpoint-tap census measured the
    * uncapped bucket join at 6,042 → 215,914 pair mass on the 10×
    * sf0.01→sf0.1 step. Skipping over-full buckets is the standard
    * LSH-at-scale discipline (the same trade as a df ceiling in
    * C4-style dedup): capped mass is ≤ cap·rows — linear by
    * construction — and blocking recall is untouched unless EVERY
    * band where a true pair agrees is hot. The value 8 is measured,
    * not guessed: at both driver fixture scales all true J ≥ 0.5
    * pairs (25 @ sf0.01, 256 @ sf0.1) still collide in some cold
    * band at cap 8 (capped mass 123,536 — blocking recall 1.0; cap 4
    * drops 23 of 256), and the key-shifted sf1/sf10 fixtures
    * preserve per-replica df so the audit holds there by
    * construction. The identical ceiling is emitted into every
    * DuckDB twin that rebuilds the pair table, so both engines block
    * alike; [[minhashRecall]] grades the end-to-end recall. */
  private[graft] val HotBucketCap = 8

  /** Banded-LSH near-dedup: candidates share a (band, signature) bucket
    * (hot buckets skipped — [[HotBucketCap]]); candidates are then
    * verified with exact shingle Jaccard >= 0.5. The bucket grouping
    * replaces the quadratic all-pairs scan. */
  def minhashNearDup(s: SparkSession, dir: String): DataFrame =
    memo(s, s"neardup:$dir")(computeMinhashNearDup(s, dir))

  /** Both inputs are staged index relations ([[minhashSigs]] and
    * [[shingleSet]] memos), so this build costs only its own work, and
    * that work scales with candidate pairs, not with pairs × shingles:
    *
    *  - candidates: ONE aggregation per (band, sig) bucket collects
    *    its doc_ids; a cold bucket (2 ≤ size ≤ [[HotBucketCap]]) emits
    *    its a < b pairs in place, and one distinct merges pairs that
    *    collide in several bands;
    *  - verify: [[withJaccard]], one row per candidate pair.
    *
    * The candidates are checkpointed before the verify. Inside the
    * verify's plan, their two shuffles raced the shingle-array shuffle,
    * AQE numbered the codegen stages in the order they finished, and a
    * warm rebuild now and then compiled its classes again.
    *
    * Measured with `Probe stage` at sf0.1 on 4 cores (warm cycles 3–6):
    * this memo's exclusive build fell from 2.3–2.6 s to 1.1–1.3 s, and
    * the `llm_stage_index` build from 42 to 35 Spark jobs, with the
    * same 256 pairs. */
  private def computeMinhashNearDup(s: SparkSession, dir: String): (DataFrame, Long) = {
    val cands = minhashSigs(s, dir).groupBy("band", "sig")
      .agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")).between(2, HotBucketCap))
      .select(explode(flatten(transform(col("ids"), a =>
        transform(filter(col("ids"), b => b > a), b =>
          struct(a.as("doc_a"), b.as("doc_b")))))).as("p"))
      .select(col("p.doc_a"), col("p.doc_b"))
      .distinct()
      .tappedLocalCheckpoint()
    withJaccard(shingleSet(s, dir), cands)
      .filter(col("jaccard") >= 0.5)
      // jaccard is an integer ratio — bit-identical raw; per-engine
      // round(4) flips on boundary-terminating rationals.
      .countedLocalCheckpoint()
  }

  /** Corpus-wide DISTINCT hashed shingle set, memoized per (session,
    * dir) and eagerly materialized: the Jaccard baseline AND the
    * containment query both start from exactly this table, so it is
    * computed once per session — the "build the index once, run many
    * measures over it" shape a real curation pipeline has. */
  private def shingleSet(s: SparkSession, dir: String): DataFrame =
    // From the shpos memo, not a fresh tokenize — see minhashSigs.
    memo(s, s"shingleset:$dir")(
      hashedShingleSet(shinglePositions(s, dir)).countedLocalCheckpoint())

  /** Exact shingle-Jaccard near-dup with a natural blocking key (same
    * source) instead of LSH — the deterministic baseline the MinHash
    * path is measured against. */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    // the whole path runs on int64 shingle hashes — the blocking
    // self-join must cover the corpus, so shrinking its shuffle key
    // matters most here.
    val sh = shingleSet(s, dir)
    val cands = sh.as("a")
      .join(sh.as("b"),
        col("a.source") === col("b.source") && col("a.sh") === col("b.sh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    withJaccard(sh, cands)
      .filter(col("jaccard") >= 0.5)
      .tappedLocalCheckpoint()
  }

  /** (doc_a, doc_b, jaccard): exact distinct-shingle Jaccard of each
    * candidate pair, one row per pair. `shingled` holds each doc's
    * shingle hashes once (the [[shingleSet]] memo), so each doc's
    * hashes are collected once into a sorted array with no duplicates;
    * both arrays are joined onto the pair, and the native
    * `sorted_intersect_size` kernel ([[graft.plans.SortedIntersectSize]])
    * sizes the overlap in one linear merge, with no hash set built per
    * pair. The sizes are longs, so `jaccard` is the same double the
    * shingle-row join gave. A pair with no shared shingle gets 0, not
    * a missing row; every caller keeps only jaccard >= 0.5. */
  private def withJaccard(shingled: DataFrame, cands: DataFrame): DataFrame = {
    val sets = shingled.groupBy("doc_id")
      .agg(sort_array(collect_list(col("sh"))).as("shs"))
    def side(d: String) = sets.select(col("doc_id").as(d), col("shs").as(s"sh_$d"))
    cands.join(side("doc_a"), "doc_a").join(side("doc_b"), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("sh_doc_a"), col("sh_doc_b"),
        graft.plans.GraftFunctions.sortedIntersectSize(col("sh_doc_a"), col("sh_doc_b"))
          .cast("long").as("n_inter"))
      .select(col("doc_a"), col("doc_b"),
        (col("n_inter") / (size(col("sh_doc_a")).cast("long")
          + size(col("sh_doc_b")).cast("long") - col("n_inter"))).as("jaccard"))
  }

  /** The staged index relations (shingle positions, shingle set,
    * signatures, near-dup pairs, clusters), memoized per (session,
    * fixture dir) and evicted when the owning SparkContext stops, each
    * with its row count. Each is an eager checkpoint
    * (`countedLocalCheckpoint`): plan-free, so holding it is cheap, and
    * every consumer (clusters, apply, runs, containment, ...) reads the
    * one build. `compute` returns the frame with the row count an
    * `Observation` took on the job that materialized it, so no job
    * runs only to count ([[stageIndex]] reads the counts). A lost
    * checkpoint block cannot be recomputed (its lineage is truncated):
    * the consumer fails with Spark's CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND,
    * and [[releaseMemo]] clears the entries, frames and counts alike,
    * so the next call rebuilds from source. Builds, timings and
    * releases all run under this object's lock. */
  private val memoCache = new graft.core.SessionScoped(
    () => scala.collection.mutable.Map.empty[String, (DataFrame, Long)])

  /** The memo `key` of session `s`, built on first use by `compute`,
    * which returns the checkpointed frame and its observed row count
    * (`countedLocalCheckpoint`); later calls return the same frame until
    * [[releaseMemo]]. The row count stays beside it for [[memoRows]]. */
  private def memo(s: SparkSession, key: String)(
      compute: => (DataFrame, Long)): DataFrame =
    memoCache.synchronized {
      memoCache(s).getOrElseUpdate(key, {
        // EXCLUSIVE build time: memo builds nest (clusters ⊇ neardup ⊇
        // sigs), so each frame on this depth stack accumulates its
        // children's wall time, which is subtracted on completion.
        // Per-memo numbers in bench_detail's stage_memos stanza are
        // then ADDITIVE — they sum to the staging step's wall time —
        // so round-over-round growth is attributed to the exact index
        // that grew without hand-subtracting chains. The whole build
        // runs inside memoCache.synchronized (re-entrant for nested
        // builds), so the plain stack and the timings buffer need no
        // extra locking.
        buildChildSec += 0.0
        val t0 = System.nanoTime()
        val sc = s.sparkContext
        val outer = sc.getLocalProperty(MemoJobProperty)
        sc.setLocalProperty(MemoJobProperty, key.takeWhile(_ != ':'))
        val built = try compute finally sc.setLocalProperty(MemoJobProperty, outer)
        val total = (System.nanoTime() - t0) / 1e9
        val children = buildChildSec.remove(buildChildSec.length - 1)
        if (buildChildSec.nonEmpty)
          buildChildSec(buildChildSec.length - 1) += total
        memoTimings += ((key, total - children))
        built
      })._1
    }

  /** Row count of the memo `key` of session `s`, as observed when it
    * was built; the memo must be built. */
  private def memoRows(s: SparkSession, key: String): Long =
    memoCache.synchronized { memoCache(s)(key)._2 }

  /** Spark local property that names the memo (its key up to the ':')
    * whose build submitted a job. It is set on the building thread for
    * the build's duration, innermost memo first, so every job carries
    * the memo that was building when it started: a `SparkListener`
    * reads it from `SparkListenerJobStart.properties` (`Probe stage`).
    * Unset outside memo builds. */
  private[graft] val MemoJobProperty = "graft.memo"

  /** (memo key, EXCLUSIVE build seconds — nested memo chains already
    * subtracted) for every shared-index memo computed in this JVM, in
    * build-completion order. The bench reads this after running
    * `llm_stage_index` so the staging step's cost is attributed PER
    * INDEX in bench_detail.json instead of as one opaque number —
    * growth across rounds is then traceable to the index that grew. */
  private val memoTimings =
    scala.collection.mutable.ArrayBuffer.empty[(String, Double)]
  private val buildChildSec =
    scala.collection.mutable.ArrayBuffer.empty[Double]
  def stageTimings: Seq[(String, Double)] =
    memoCache.synchronized { memoTimings.toList }

  /** Reset the per-memo timing buffer. The bench's staging min-of-two
    * (cold build → [[releaseMemo]] → warm rebuild) calls this between
    * the two builds so each run's `stage_memos` stanza stays ADDITIVE
    * to that run's wall time instead of summing both builds. */
  def clearStageTimings(): Unit =
    memoCache.synchronized { memoTimings.clear() }

  /** Drop this session's memoized frames and their storage. Memoized
    * frames are localCheckpoints — their blocks are unrecomputable
    * once dropped (truncated lineage), so the map entries go with
    * them; the next call recomputes from source. End-of-run hook for
    * long verify/bench sessions (see [[graft.core.CacheRelease]]).
    *
    * `Dataset.unpersist` alone would NOT free these blocks: it goes
    * through the cache manager, which tracks plan-cache entries but
    * not checkpoint RDDs. The storage actually lives on the
    * `LogicalRDD`'s backing RDD, so that is what gets unpersisted. */
  def releaseMemo(s: SparkSession): Unit = memoCache.synchronized {
    memoCache.remove(s).foreach(_.values.foreach { case (df, _) =>
      df.unpersist(blocking = true)
      org.apache.spark.sql.graftshims.DatasetShim.checkpointedRdds(df)
        .foreach(_.unpersist(blocking = true))
    })
  }

  /** Near-dup CLUSTERS: connected components over the MinHash near-dup
    * pair graph ([[minLabelComponents]]), so a chain a~b~c dedups to ONE
    * keeper even when a~c was never a candidate pair. Also serves
    * `llm_cc_altstar`: same clustering, same oracle. */
  def dedupClusters(s: SparkSession, dir: String): DataFrame =
    memo(s, s"clusters:$dir")(computeClusters(s, dir))

  private def computeClusters(s: SparkSession, dir: String): (DataFrame, Long) = {
    val cc = minLabelComponents(minhashNearDup(s, dir).select("doc_a", "doc_b"))
    (cc.labels.select(col("node").as("doc_id"), col("label").as("cluster_id"),
      (col("node") === col("label")).as("is_keeper")), cc.nodes)
  }

  /** Directed edge count below which [[minLabelComponents]] runs its
    * steps after the first on one partition. */
  private[graft] val SmallGraphEdges = 100000L

  /** [[minLabelComponents]]' result: (node, label) rows, the
    * propagation steps run, and the number of nodes (rows of `labels`). */
  private[graft] final case class Components(labels: DataFrame, steps: Int, nodes: Long)

  /** Connected components of the undirected graph whose edges are the
    * rows of `pairs` (doc_a, doc_b): (node, label), where label is the
    * smallest node id in the node's component, plus the propagation
    * steps run and the node count. Labels only ever fall, so min-label
    * propagation always reaches its fixpoint, within diameter + 1
    * steps; the loop runs until a step changes no label, however long
    * the chain.
    *
    * Every step is one eager checkpoint, and the counts the loop
    * decides on are observed on those checkpoints' own jobs: the
    * directed edge count (for the one-partition cutover) and the node
    * count on step 1, the labels a step changed on every later step.
    * No job runs only to count. */
  private[graft] def minLabelComponents(pairs: DataFrame): Components = {
    // Not persisted: a cache is one more job to fill under AQE, and a
    // re-read costs two scans of `pairs` (a checkpoint, for the clusters
    // memo).
    val rawEdges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    // Step 1 needs no join: every label starts as the node's own id, so
    // a node's neighbour minimum is the smallest doc_b on its edges.
    // Its degrees sum to the directed edge count.
    val (first, m) = rawEdges.groupBy(col("doc_a"))
      .agg(least(col("doc_a"), min(col("doc_b"))).as("label"),
        count(lit(1)).as("deg"))
      .select(col("doc_a").as("node"), col("label"), col("deg"))
      .observedLocalCheckpoint(count(lit(1)).as("n_nodes"),
        coalesce(sum(col("deg")), lit(0L)).as("n_edges"))
    // Adaptive layout for the iterative phase: the edge set after the
    // Jaccard filter is usually tiny relative to the corpus, and the
    // label-propagation rounds are then dominated by task-scheduling
    // overhead across 32 shuffle partitions (measured 20s at sf0.1).
    // Small graphs collapse to one partition; big graphs keep the
    // distributed layout.
    val edges =
      if (m("n_edges").asInstanceOf[Long] < SmallGraphEdges) rawEdges.coalesce(1)
      else rawEdges
    // One step: the change flag is computed inside the propagation pass
    // and counted on its checkpoint's job — a separate labels⨝next
    // comparison job per round doubled the loop's cost. Every node has
    // an edge (the edge set is symmetric), so each node has a neighbour
    // minimum and the join back onto the labels is inner.
    def propagate(l: DataFrame): (DataFrame, Long) = {
      val nbrMin = edges.join(l, col("doc_b") === col("node"))
        .groupBy(col("doc_a"))
        .agg(min(col("label")).as("nbr_min"))
        .select(col("doc_a").as("n2"), col("nbr_min"))
      val (next, changed) = l.join(nbrMin, col("node") === col("n2"))
        .select(col("node"), least(col("label"), col("nbr_min")).as("label"),
          (col("nbr_min") < col("label")).as("chg"))
        .observedLocalCheckpoint(count_if(col("chg")).as("n_chg"))
      (next.select("node", "label"), changed("n_chg").asInstanceOf[Long])
    }
    var (labels, changed) = propagate(first.select("node", "label"))
    var steps = 2
    // two propagation steps per convergence check: fixpoint is still
    // detected exactly (a full unchanged step), with half the
    // checkpoints read per round
    while (changed > 0) {
      val (once, _) = propagate(labels)
      val (twice, c) = propagate(once)
      labels = twice
      changed = c
      steps += 2
    }
    Components(labels, steps, m("n_nodes").asInstanceOf[Long])
  }

  /** Apply the dedup decision: the corpus with near-dup cluster
    * non-keepers removed (left-anti against the clusters table). This
    * is the query a training pipeline actually materializes. */
  def dedupApply(s: SparkSession, dir: String): DataFrame = {
    val drop = dedupClusters(s, dir)
      .filter(!col("is_keeper")).select("doc_id")
    docs(s, dir)
      .join(drop, Seq("doc_id"), "left_anti")
      .select("doc_id", "lang", "source", "n_chars")
  }

  /** TF-IDF term scoring: tf per (doc, term), document frequency over
    * the corpus, idf = ln((N+1)/(df+1)), top-3 terms for the first 20
    * docs. Two aggregations plus a broadcast of the scalar doc count —
    * the df table is the only corpus-wide shuffle. */
  def tfidf(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = tok.filter(col("doc_id") < 20)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfreq = tok.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tfidf_raw").desc, col("term"))
    tf.join(dfreq, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_raw",
        col("tf") * log((col("n_docs") + 1.0) / (col("df") + 1.0)))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
        round(col("tfidf_raw"), 4).as("tfidf"))
  }

  /** BM25 term scoring (k1=1.2, b=0.75) — TF-IDF's production
    * replacement: term saturation via k1 and document-length
    * normalization via b/avgdl. Same distributed shape as [[tfidf]]
    * (per-doc TF joined to a broadcast DF/avgdl side); the scored side
    * is limited to doc_id < 20 while df/avgdl stay corpus-wide, exactly
    * how a 100 TB corpus scores a slice against global statistics. */
  def bm25(s: SparkSession, dir: String): DataFrame = {
    val k1 = 1.2; val b = 0.75
    val tok = docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
    val tf = tok.filter(col("doc_id") < 20)
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val avg = dl.agg(
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val dfreq = tok.select("doc_id", "term").distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") + lit(k1) *
      (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("score_raw").desc, col("term"))
    tf.join(dfreq, "term")
      .join(dl, "doc_id")
      .crossJoin(broadcast(n)).crossJoin(broadcast(avg))
      .withColumn("score_raw", idf * (col("tf") * (lit(k1) + 1.0)) / norm)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"),
        round(col("score_raw"), 4).as("bm25"))
  }

  /** Bigram language-model scoring with add-0.5 smoothing: the
    * two-token upgrade of the unigram [[logprob]] quality proxy —
    * P(w2|w1) = (c(w1w2)+0.5)/(c(w1)+0.5·V), score = mean ln P over
    * the doc's bigrams. Counts are corpus-wide exact integers; only
    * the scored slice (doc_id < 50) joins them back, so at 100 TB the
    * LM table builds once and scoring stays a slice-sized join. */
  def ngramLm(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= 2)
    val bi = d.select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t)-2), i -> struct(t[i] AS w1, t[i+1] AS w2))"))
        .as("b"))
      .select(col("doc_id"), col("b.w1").as("w1"), col("b.w2").as("w2"))
    val c2 = bi.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    // unigram counts and vocab come from ALL docs (the oracle's tok
    // CTE is unfiltered) — deriving them from the >=2-token slice `d`
    // silently diverges on any fixture doc with 0-1 tokens.
    val tok = docs(s, dir).repartition(fanout(s))
      .select(explode(toks(col("text"))).as("term"))
    val c1 = tok.groupBy("term").agg(count(lit(1)).as("c1"))
    val v = tok.agg(countDistinct(col("term")).as("v"))
    bi.filter(col("doc_id") < 50)
      .join(c2, Seq("w1", "w2"))
      .join(c1, bi("w1") === c1("term"))
      .crossJoin(broadcast(v))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(log((col("c2") + lit(0.5)) /
          (col("c1") + lit(0.5) * col("v")))), 6).as("score"))
  }

  /** Hashing-trick featurization: tokens map to a fixed 32-bucket
    * space via an md5-derived bucket id — no vocabulary to build,
    * ship, or keep consistent across a 100 TB corpus; collisions are
    * the accepted trade. md5 (not Spark's Murmur `hash`) keeps the
    * bucket function engine-neutral for the oracle. */
  def featureHashing(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).repartition(fanout(s))
      .filter(col("doc_id") < 30)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .select(col("doc_id"),
        (conv(substring(md5(col("term")), 1, 4), 16, 10).cast("long") % 32)
          .as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))

  /** PII redaction over the event payloads (the fixture column that
    * actually carries digits): email-shaped then numeric literals →
    * placeholder tokens, plus a redaction count. Pure per-row
    * codegen'd regexps — no shuffle at any scale. */
  def piiMask(s: SparkSession, dir: String): DataFrame = {
    val email = "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+"
    val num = "[0-9]+"
    Tables.load(s, dir, "events").select(
      col("event_id"),
      regexp_replace(regexp_replace(col("props"), email, "<email>"),
        num, "<num>").as("masked_props"),
      size(expr(s"regexp_extract_all(props, '$num', 0)")).cast("long")
        .as("n_redacted"))
  }

  /** Dedup impact report: per source, corpus size before/after the
    * near-dup cluster dedup — the summary a pipeline run logs. Reads
    * the memoized cluster table, so it shares work with the other
    * dedup queries. */
  def dedupStats(s: SparkSession, dir: String): DataFrame = {
    val dropped = dedupClusters(s, dir)
      .filter(!col("is_keeper")).select("doc_id")
      .withColumn("is_dropped", lit(true))
    docs(s, dir)
      .join(dropped, Seq("doc_id"), "left")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("is_dropped"), 1L).otherwise(0L)).as("n_dropped"),
        sum(when(col("is_dropped"), 0L).otherwise(1L)).as("n_kept"))
  }

  /** Repetition-based quality signal (Gopher-style): the fraction of a
    * doc's word-3-grams that are duplicates (1 − distinct/total) —
    * high values mark template/spam text. Pure per-row array math, no
    * shuffle.
    *
    * Perf shape (round-6 regression, 59.9 s → fixed): the shingle
    * array must be CONSTRUCTED ONCE per row. Inlining it into
    * size/array_distinct/`when` builds it up to five times — the
    * conditional branches defeat codegen subexpression reuse — which
    * is CPU-quadratic-ish per row and just as wrong at 100×. The two
    * counts are projected from one materialized array; the ratio is
    * derived from the counts behind a second projection boundary
    * (cheap longs, safe to duplicate). */
  def textRepetition(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), shingles(col("t")).as("sh"))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
      .select(col("doc_id"), col("n_shingles"), col("n_distinct"),
        when(col("n_shingles") > 0,
          lit(1.0) - col("n_distinct") / col("n_shingles").cast("double"))
          .otherwise(0.0).as("rep_ratio"))

  /** Incremental batch-vs-corpus dedup — the production ingest shape:
    * an EXISTING corpus (sources src0-src9) is an index the INCOMING
    * batch (src10+) probes; incoming docs never compare against each
    * other. Layer 1 drops exact matches (incoming docs whose
    * normalized-text digest an existing doc shares); layer 2 drops
    * near-dups (incoming MinHash band signatures paired with the
    * existing side's only, verified at shingle-Jaccard ≥ 0.5 — the
    * [[minhashNearDup]] protocol). Per incoming source: batch size,
    * drops per layer, survivors.
    *
    * 100 TB shape: the existing index (digests + band signatures) is
    * materialized once and reused per batch; probe cost scales with
    * the BATCH, not the corpus. Membership runs on doc_id/digest
    * keys — no broadcast of corpus-sized sides. */
  def incrementalDedup(s: SparkSession, dir: String): DataFrame = {
    val isExisting = substring(col("source"), 4, 10).cast("int") < 10
    val d = docs(s, dir)
    val norm = md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
    // Each plan below is one chain of shuffles. In a plan with two
    // independent chains, AQE broadcast whichever side finished first
    // and numbered the codegen stages in the order it created them, so
    // a warm rebuild now and then compiled its classes again. So each
    // drop set is one aggregation, checkpointed, and the per-source
    // counts group a union of the batch and the drop sets, not a join.
    //
    // Exact drops: the incoming docs of a digest an existing doc has.
    val exactDropped = d.select(norm.as("norm_md5"), isExisting.as("ex"),
        when(!isExisting, col("doc_id")).as("doc_id"))
      .groupBy("norm_md5")
      .agg(max(col("ex")).as("hit"), collect_list(col("doc_id")).as("ids"))
      .filter(col("hit"))
      .select(explode(col("ids")).as("doc_id"))
      .tappedLocalCheckpoint()
    // Probe-only: signatures and shingle sets come from the staged
    // index memos ([[minhashSigs]] / [[shingleSet]]) — this query pays
    // the digest scan, the band probe, and the candidate verify,
    // never an index rebuild. That IS the incremental contract: per
    // batch, cost scales with the batch and the candidate set. The
    // probe pairs each (band, sig) bucket's incoming docs with its
    // existing ones; an exact drop it finds is counted as exact below.
    val cands = minhashSigs(s, dir)
      .join(d.select(col("doc_id"), isExisting.as("ex")), "doc_id")
      .groupBy("band", "sig")
      .agg(collect_list(when(!col("ex"), col("doc_id"))).as("ins"),
        collect_list(when(col("ex"), col("doc_id"))).as("exs"))
      .select(explode(col("ins")).as("doc_a"), col("exs"))
      .select(col("doc_a"), explode(col("exs")).as("doc_b"))
      .distinct()
      .tappedLocalCheckpoint()
    val nearDropped = withJaccard(shingleSet(s, dir), cands)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a").as("doc_id")).distinct()
      .tappedLocalCheckpoint()
    def flagged(ids: DataFrame, exact: Boolean, near: Boolean) =
      ids.select(col("doc_id"), lit(null).cast("string").as("source"),
        lit(exact).as("exact"), lit(near).as("near"))
    d.filter(!isExisting)
      .select(col("doc_id"), col("source"), lit(false).as("exact"), lit(false).as("near"))
      .unionByName(flagged(exactDropped, exact = true, near = false))
      .unionByName(flagged(nearDropped, exact = false, near = true))
      .groupBy("doc_id")
      .agg(max(col("source")).as("source"), max(col("exact")).as("exact"),
        max(col("near")).as("near"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_in"),
        count(when(col("exact"), 1)).as("n_exact_dup"),
        count(when(!col("exact") && col("near"), 1)).as("n_near_dup"),
        count(when(!col("exact") && !col("near"), 1)).as("n_kept"))
      .tappedLocalCheckpoint()
  }

  /** C4-style line-level boilerplate dedup, re-expressed over fixed
    * 10-token segments (the fixture corpus has no newlines): a segment
    * occurring in ≥2 DISTINCT documents is boilerplate (C4 removed any
    * line repeated ≥3 times across the crawl); per doc the query
    * reports segments, boilerplate segments, and tokens surviving the
    * cut. Docs shorter than one full segment carry no segments and are
    * excluded, and the trailing partial segment is ignored — pinned in
    * the oracle.
    *
    * 100 TB shape: explode to (doc, segment-hash), one distinct + one
    * groupBy on a 16-byte digest for the corpus-wide frequency table,
    * then a hash join back — the same linear plan C4 ran over the
    * whole crawl. No text ever shuffles, only hashes. */
  def segmentDedup(s: SparkSession, dir: String): DataFrame = {
    val segLen = 10
    val base = docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"), col("t"),
        (size(col("t")) / segLen).cast("int").as("n_full"))
      .filter(col("n_full") >= 1)
    val segs = base.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), col("n_full") - 1),
        i => md5(concat_ws(" ", slice(col("t"), i * segLen + 1, lit(segLen))))))
        .as(Seq("seg_idx", "h")))
    val freq = segs.select(col("doc_id"), col("h")).distinct()
      .groupBy("h").agg(count(lit(1)).as("n_docs"))
    val boiler = freq.filter(col("n_docs") >= 2)
      .select(col("h"), lit(1L).as("is_boiler"))
    segs.join(boiler, Seq("h"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_segments"),
        sum(coalesce(col("is_boiler"), lit(0L))).as("n_boilerplate"),
        ((count(lit(1)) - sum(coalesce(col("is_boiler"), lit(0L))))
          * segLen).as("tokens_kept"))
  }

  /** Vocabulary-truncation coverage: per source, the share of token
    * OCCURRENCES covered by the corpus-wide top-20 tokens (by total
    * frequency, ties by token) — the OOV-rate table that decides a
    * tokenizer/vocab budget. One corpus-wide count, one top-k, one
    * broadcast semi-join back over the per-source counts. */
  def oovRate(s: SparkSession, dir: String): DataFrame = {
    val tok = docs(s, dir).repartition(fanout(s))
      .select(col("source"), explode(toks(col("text"))).as("term"))
    val bySrcTerm = tok.groupBy("source", "term").agg(count(lit(1)).as("c"))
    // top-k as orderBy+limit -> TakeOrderedAndProject (per-partition
    // partial top-k, no single-partition window)
    val top = bySrcTerm.groupBy("term").agg(sum(col("c")).as("tot"))
      .orderBy(col("tot").desc, col("term")).limit(20)
      .select(col("term"), lit(1L).as("in_vocab"))
    bySrcTerm.join(broadcast(top), Seq("term"), "left")
      .groupBy("source")
      .agg(sum(col("c")).as("n_tokens"),
        sum(when(col("in_vocab").isNotNull, col("c")).otherwise(0L))
          .as("n_covered"))
      .select(col("source"), col("n_tokens"), col("n_covered"),
        (lit(1.0) - col("n_covered") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Training-shard export: deterministic md5-derived shard assignment
    * (docs land on 16 shards independent of partitioning, cluster size,
    * or insertion order — the property a resumable training reader
    * needs) plus the balance report that decides whether hash sharding
    * suffices: per-shard docs, tokens, and token skew vs the mean
    * shard. One groupBy; the global mean broadcasts back as a 1-row
    * frame. */
  def trainShards(s: SparkSession, dir: String): DataFrame = {
    val shard = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long") % 16
    val perShard = docs(s, dir).repartition(fanout(s))
      .select(shard.as("shard"), size(toks(col("text"))).cast("long").as("n_tokens"))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("shard_tokens"))
    val mean = perShard.agg(
      (sum(col("shard_tokens")).cast("double") / count(lit(1))).as("mean_tokens"))
    perShard.crossJoin(broadcast(mean))
      .select(col("shard"), col("n_docs"), col("shard_tokens"),
        (col("shard_tokens") / col("mean_tokens")).as("skew"))
  }

  /** Sequence packing: greedily pack docs into fixed token-budget
    * training sequences, per source, in deterministic md5 order —
    * pack_id = floor(running-token-count-before / budget). One window
    * per stratum; at 100 TB each source packs independently and the
    * running sum is constant state. Docs longer than the budget get a
    * pack to themselves (the floor assignment handles this naturally). */
  def seqPack(s: SparkSession, dir: String): DataFrame = {
    val budget = 2048L
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .withColumn("tokens_before",
        coalesce(sum(col("n_tokens")).over(w), lit(0L)))
      .withColumn("pack_id", floor(col("tokens_before") / budget).cast("long"))
      .groupBy("source", "pack_id")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("pack_tokens"))
  }

  /** Deterministic uniform in [0,1) from the first 4 hex digits of
    * md5(doc_id) — reproducible in the oracle, unlike rand(). */
  // ONE md5 per row: the first 4 hex digits' value via conv — the
  // per-digit instr spelling embedded md5(doc_id) four times, which
  // whole-stage codegen cannot always CSE (when-guard branches), and
  // on shingle-grain consumers (48n rows) that was measured real cost.
  // Numerically identical: ((c1·16+c2)·16+c3)·16+c4 IS the base-16
  // value of the first four digits.
  private val detU: Column =
    conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
      .cast("long") / 65536.0

  /** Weighted reservoir sampling (Efraimidis–Spirakis A-Res): key =
    * u^(1/w), top-k by key per stratum. Single pass and mergeable —
    * the distributed-correct way to draw a weighted training sample;
    * with the deterministic u it is also oracle-reproducible. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("source").orderBy(col("skey").desc, col("doc_id"))
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        pow(detU, lit(1.0) / col("n_chars")).as("skey"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("source"), col("rnk"), col("doc_id"),
        round(col("skey"), 6).as("skey"))
  }

  /** Corpus mixing: a token budget split across sources by weight
    * (src0 oversampled 2×), filled in deterministic md5 order with a
    * running token cumsum per source. The training-mixture op: one
    * window per stratum, no global coordination. */
  def corpusMix(s: SparkSession, dir: String): DataFrame = {
    val srcWeight = when(col("source") === "src0", 2.0).otherwise(1.0)
    val totalW = docs(s, dir).select(col("source")).distinct()
      .agg(sum(srcWeight).as("total_w"))
    val w = Window.partitionBy("source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, 0)
    docs(s, dir)
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tokens"))
      .crossJoin(broadcast(totalW))
      .withColumn("cum_tokens", sum(col("n_tokens")).over(w))
      .filter(col("cum_tokens") <= lit(20000.0) * srcWeight / col("total_w"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("tokens_used"))
  }

  /** Decontamination: test-split documents sharing ≥1 word-3-gram with
    * any train-split document (the train/test assignment is the same
    * md5-derived split as [[stratifiedSplit]]). The overlap check is an
    * equi-join on int64 shingle hashes — train-side state is a
    * distinct (shingle → present) set, so at 100 TB this is the
    * standard bloom/semi-join decontamination shape, never a doc×doc
    * comparison. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    // Pure consumer of the staged shingle index (r15): the split
    // assignment is a pure function of doc_id ([[detU]]), so the
    // train/test shingle sets are the staged DISTINCT (doc_id,
    // shingle-hash) relation with the split projected per row — no
    // join, and ZERO corpus text scans. The previous inline shape
    // scanned + split + exploded the corpus once per plan branch
    // (train and test), i.e. twice; a real pipeline decontaminates
    // off the index, not the raw text. Same xxhash64 shingle hashes,
    // same sets, same result.
    val sh = shingleSet(s, dir)
      // u staged behind a projection so the md5 runs once per shingle
      // row even though the when-chain references it twice
      .select(col("doc_id"), col("sh").as("h"), detU.as("u"))
      .select(col("doc_id"), col("h"),
        when(col("u") < 0.8, "train").when(col("u") < 0.9, "val")
          .otherwise("test").as("split"))
    val trainSh = sh.filter(col("split") === "train")
      .select("h").distinct()
    sh.filter(col("split") === "test")
      // distinct per (doc_id, h): [[shingleSet]] is DISTINCT over
      // (doc_id, source, sh), which collapses to (doc_id, sh) only
      // because each doc_id carries exactly ONE source — an invariant
      // of the documents table that FixtureInvariantsSpec asserts
      // (both recall audits' n_inter/n_sh lean on it too).
      .select("doc_id", "h")
      .join(trainSh, "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Corpus length-percentile quality gate: keep docs whose n_chars is
    * within [p5, p95] of the corpus distribution. The thresholds are
    * ONE tiny aggregate broadcast against the corpus — no per-row
    * subquery. Reported as pass/fail counts so the output is stable. */
  def lengthFilter(s: SparkSession, dir: String): DataFrame = {
    val bounds = docs(s, dir)
      // one array-percentile buffer for both bounds — values unchanged
      .agg(expr("percentile(n_chars, array(0.05, 0.95))").as("ps"))
      .select(col("ps")(0).as("lo"), col("ps")(1).as("hi"))
    docs(s, dir).crossJoin(broadcast(bounds))
      .select(col("source"),
        (col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
          .as("keep"))
      .groupBy("source", "keep")
      .agg(count(lit(1)).as("n_docs"))
  }

  /** Deterministic train/val/test split (80/10/10) from the md5-derived
    * uniform — the reproducible alternative to rand()-based splits, and
    * stable under re-runs/retries because the assignment is pure row
    * content. Reported as per-(source, split) counts + char volume. */
  def stratifiedSplit(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("source"), col("n_chars"),
        when(detU < 0.8, "train").when(detU < 0.9, "val")
          .otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))

  /** Corpus vocabulary: top-40 terms by document frequency (df), rank
    * tie-broken lexically. The df table is the one corpus-wide shuffle;
    * the top-k is a single ordered limit on the (small) term table. */
  def vocab(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy(col("df").desc, col("term"))
    docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .distinct()
      .groupBy("term").agg(count(lit(1)).as("df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 40)
  }

  /** The full training-data pipeline as ONE composed plan: length-
    * percentile quality gate → near-dup cluster dedup (keepers only) →
    * deterministic 80/10/10 split → per-(source, split) corpus stats.
    * Every stage is an operator graded on its own elsewhere; this query
    * pins that they compose — the shape a real corpus build
    * materializes nightly. */
  def pipelineE2e(s: SparkSession, dir: String): DataFrame = {
    val bounds = docs(s, dir)
      // one array-percentile buffer for both bounds — values unchanged
      .agg(expr("percentile(n_chars, array(0.05, 0.95))").as("ps"))
      .select(col("ps")(0).as("lo"), col("ps")(1).as("hi"))
    val dropped = dedupClusters(s, dir)
      .filter(!col("is_keeper")).select("doc_id")
    docs(s, dir)
      .crossJoin(broadcast(bounds))
      .filter(col("n_chars") >= col("lo") && col("n_chars") <= col("hi"))
      .join(dropped, Seq("doc_id"), "left_anti")
      .select(col("doc_id"), col("source"),
        size(toks(col("text"))).cast("long").as("n_tokens"),
        when(detU < 0.8, "train").when(detU < 0.9, "val")
          .otherwise("test").as("split"))
      .groupBy("source", "split")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
  }

  /** Per-(doc, bit-position) tf-weighted majority votes over the first
    * `bits` md5 bits of each token — the shared core of both simhash
    * assemblers below. Two narrow aggregations; no per-doc state beyond
    * `bits` counters. md5 yields 128 usable bits (32 hex nibbles), so
    * bits ≤ 128. */
  private def simhashVotes(s: SparkSession, dir: String,
      bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 128, s"simhash width $bits out of [1,128]")
    // fan out before the ~token_count × bits explode amplification (the
    // compact corpus file otherwise scans — and explodes — as 1 task)
    val tokenHash = docs(s, dir)
      .repartition(fanout(s))
      .select(col("doc_id"), explode(toks(col("text"))).as("tok"))
      .select(col("doc_id"), md5(col("tok")).as("h"))
    tokenHash
      .select(col("doc_id"), col("h"),
        explode(sequence(lit(0), lit(bits - 1))).as("pos"))
      .select(col("doc_id"), col("pos"),
        (expr("(instr('0123456789abcdef', substr(h, pos div 4 + 1, 1)) - 1)")
          .cast("int").as("hexval")))
      .select(col("doc_id"), col("pos"),
        (expr("shiftright(hexval, 3 - pos % 4) % 2") * 2 - 1).as("vote"))
      .groupBy("doc_id", "pos")
      .agg(sum(col("vote")).as("votes"))
  }

  /** Single-long SimHash of the first `bits` md5 bits. The assembled
    * value must stay in the int64 sign-safe range, so bits ≤ 60; the
    * two-lane [[simhashLanesOf]] carries wider hashes. */
  private def simhashOf(s: SparkSession, dir: String, bits: Int): DataFrame = {
    require(bits <= 60, s"single-long simhash width $bits out of [1,60]")
    simhashVotes(s, dir, bits)
      .groupBy("doc_id")
      .agg(sum(when(col("votes") > 0,
        expr("shiftleft(CAST(1 AS BIGINT), pos)")).otherwise(0L))
        .as("simhash"))
  }

  /** Two-lane SimHash: the full `bits`-bit hash split at `loBits` into
    * (sh_lo = bits [0, loBits), sh_hi = bits [loBits, bits) re-based to
    * position 0). With loBits chosen so both lanes stay ≤ 62 bits the
    * pair of sign-safe longs carries up to md5's full 128 bits — the
    * documented next step past the old single-long 60-bit cap. When
    * bits = loBits the hi lane is identically 0 and sh_lo equals the
    * [[simhashOf]] value bit for bit. */
  private def simhashLanesOf(s: SparkSession, dir: String, bits: Int,
      loBits: Int): DataFrame = {
    require(loBits >= 1 && loBits <= 62 && bits - loBits <= 62,
      s"simhash lanes ($bits, $loBits) exceed int64 sign-safe range")
    val votes = simhashVotes(s, dir, bits)
    if (bits <= loBits)
      // Single-lane widths (every graded scale: 4w ≤ 60 through sf1):
      // all positions sit in the lo lane, so the hi lane is provably
      // the constant 0 — emit it as a literal instead of carrying a
      // second conditional sum (and its always-true pos guard) through
      // the aggregate. Bit-equal to the two-sum spelling by
      // construction; DialLadderSpec fuzzes the equality across widths.
      votes.groupBy("doc_id")
        .agg(sum(when(col("votes") > 0,
          expr("shiftleft(CAST(1 AS BIGINT), pos)")).otherwise(0L))
          .as("sh_lo"))
        .withColumn("sh_hi", lit(0L))
    else
      votes.groupBy("doc_id")
        .agg(
          sum(when(col("votes") > 0 && col("pos") < loBits,
            expr("shiftleft(CAST(1 AS BIGINT), pos)")).otherwise(0L))
            .as("sh_lo"),
          sum(when(col("votes") > 0 && col("pos") >= loBits,
            expr(s"shiftleft(CAST(1 AS BIGINT), pos - $loBits)"))
            .otherwise(0L)).as("sh_hi"))
  }

  /** The graded 32-bit SimHash signature table. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashOf(s, dir, 32)

  /** Near-dup band width dial: 8 bits per band at ≤512 docs (the exact
    * pre-r13 32-bit shape), +1 per corpus doubling, capped at 31 (124
    * hash bits — md5 exhausted). Expected band-bucket occupancy is
    * n/2^w = O(1), which is what keeps the banded self-join's Σ n_b²
    * linear; the FIXED 8-bit version measured 104× candidate-mass
    * growth on the census's 10× step because 1024 total buckets make
    * mass ~n²/256 per band. The r13 cap was 15 (60 bits — one
    * sign-safe int64), which SATURATED at ~65k docs — one corpus
    * doubling past sf1 — and the r14 sf10 probe is exactly where its
    * n²/2^60-per-band mass would have gone quadratic (500k docs →
    * ~100× mass on 10× data); the hash now rides TWO int64 lanes
    * ([[simhashLanesOf]]) past w = 15, identical values below. The cap
    * binds at 512·2²² ≈ 2.1G docs; past it the next dial is more bands
    * over a second hash (and a raised pigeonhole threshold) —
    * documented, not silent. */
  private[graft] def simhashBandBits(n: Long): Int =
    math.min(31, 8 + LlmVectors.ladderCount(n, 512L, 23))

  /** SimHash near-dup pairs: banded blocking over a corpus-dialed
    * 4×w-bit hash (4 bands of w = [[simhashBandBits]] bits — by
    * pigeonhole, any pair within hamming ≤ 3 OF THE FULL 4w-bit hash
    * differs in ≤3 bands' worth of bits, so at least one band matches
    * exactly; the guarantee holds for ANY band partition, so BLOCKING
    * recall relative to the hamming ≤ 3 cutoff is exactly 1 at every
    * width). Be explicit about what the dial DOES move: the cutoff
    * stays 3 while the hash widens from 32 to up to 124 bits, so the
    * near-dup DEFINITION itself tightens with the corpus (3/32 ⇒
    * ~9.4% tolerated feature disagreement at small n, 3/124 ⇒ ~2.4%
    * at large n) — the dup cutoff is PART of the dial, and results are
    * comparable within a corpus size, not across sizes. That is the
    * deliberate trade: a wider hash at fixed absolute threshold is
    * how simhash precision is usually scaled (hamming-per-bit, not
    * hamming, is the similarity), and scaling the threshold
    * proportionally instead would forfeit the pigeonhole guarantee at
    * 4 bands (threshold 5 of 60 can spread 2+1+1+1 across all four).
    * Candidates verified with bit_count(xor). Same no-all-pairs
    * discipline as the MinHash LSH; the identical dial ladder is
    * emitted into the DuckDB oracle so both engines block alike. */
  def simhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val w = simhashBandBits(docs(s, dir).count())
    // Lane split: one long while 4w fits sign-safe (hi ≡ 0, bit-equal
    // to the old single-long shape); two bands per lane beyond. 2w ≤ 62
    // at the w = 31 cap, and the split lands on a band boundary so no
    // band ever straddles lanes. The DuckDB twin carries the identical
    // CASE arithmetic, so both engines block alike at every width.
    val loBits = if (4 * w <= 60) 4 * w else 2 * w
    val sh = simhashLanesOf(s, dir, 4 * w, loBits)
    val banded = sh.select(col("doc_id"), col("sh_lo"), col("sh_hi"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("band_bits",
        expr(s"""CASE WHEN band * $w < $loBits
                 THEN shiftright(sh_lo, CAST(band * $w AS INT)) % ${1L << w}
                 ELSE shiftright(sh_hi, CAST(band * $w - $loBits AS INT)) % ${1L << w}
                 END"""))
    banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band")
          && col("a.band_bits") === col("b.band_bits")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (bit_count(col("a.sh_lo").bitwiseXOR(col("b.sh_lo")))
          + bit_count(col("a.sh_hi").bitwiseXOR(col("b.sh_hi"))))
          .cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  // -------------------------------------------------------- text stats

  /** Token counting: whitespace tokens, distinct tokens, alpha-run
    * tokens (BPE-ish regex), chars, average token length. */
  def textTokens(s: SparkSession, dir: String): DataFrame =
    docs(s, dir).select(
      col("doc_id"),
      size(toks(col("text"))).cast("long").as("n_tokens"),
      size(array_distinct(toks(col("text")))).cast("long").as("n_distinct"),
      size(expr("regexp_extract_all(text, '[a-z]+', 0)")).cast("long")
        .as("n_alpha_tokens"),
      length(col("text")).cast("long").as("n_chars"),
      ((length(col("text")) - size(toks(col("text"))) + 1)
        / size(toks(col("text"))).cast("double")).as("avg_token_len"))

  /** Quality scoring: length saturation + type-token ratio + punctuation
    * share, combined into one [0,1] score. */
  def textQuality(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val nTok = size(t).cast("double")
    val ttr = size(array_distinct(t)) / nTok
    val punct = length(regexp_replace(col("text"), "[^.,;:!?]", ""))
      .cast("double") / length(col("text"))
    docs(s, dir).select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      // All raw: integer ratios and IEEE-exact combinations of them
      // are bit-identical across engines; per-engine round(4) flips
      // when a ratio's terminating expansion lands on a boundary.
      ttr.as("ttr"),
      punct.as("punct_ratio"),
      (least(lit(1.0), nTok / 50.0) * 0.5 + ttr * 0.5 - punct * 0.25)
        .as("quality"))
  }

  private[queries] val enMarkers = Seq("the", "a", "of", "and", "data", "table",
    "row", "join", "order", "filter", "group", "fast", "slow")
  private[queries] val esMarkers = Seq("el", "la", "de", "los", "las", "datos", "y")
  private[queries] val deMarkers = Seq("der", "die", "und", "das", "daten", "ein")

  private def hits(tokens: Column, markers: Seq[String]): Column =
    size(filter(tokens, t => t.isin(markers: _*))).cast("long")

  /** Language-ID heuristic: stopword-marker voting with a deterministic
    * argmax (en >= es >= de order) and 'und' when nothing matches. */
  def textLangid(s: SparkSession, dir: String): DataFrame = {
    val t = toks(col("text"))
    val en = hits(t, enMarkers); val es = hits(t, esMarkers)
    val de = hits(t, deMarkers)
    docs(s, dir).select(
      col("doc_id"), col("lang").as("labeled_lang"),
      en.as("en_hits"), es.as("es_hits"), de.as("de_hits"),
      when(en + es + de === 0, "und")
        .when(en >= es && en >= de, "en")
        .when(es >= de, "es")
        .otherwise("de").as("pred_lang"))
  }

  /** Fingerprints: content hash over the sorted distinct token set plus
    * a winnowing-style min-shingle-hash. */
  def textFingerprint(s: SparkSession, dir: String): DataFrame =
    // ~50 md5s + an array sort per row: worth fanning the 1-task scan
    // out across cores even though the op itself is narrow. The token
    // array is STAGED behind a projection boundary so the split runs
    // once per row — inlining it into both the sorted-distinct hash
    // and the shingle lambda re-split the text ~6x per row (same class
    // as the round-6 text_repetition regression).
    docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"), toks(col("text")).as("t"))
      .select(col("doc_id"),
        md5(concat_ws(" ", array_sort(array_distinct(col("t")))))
          .as("content_md5"),
        array_min(transform(shingles(col("t")), sh => md5(sh)))
          .as("min_shingle_md5"))

  /** Shingle CONTAINMENT (asymmetric Jaccard): |A∩B|/|A| and /|B| for
    * blocked candidate pairs — the contamination/sub-document-dup
    * measure (a small doc fully inside a big one scores ~1.0 where
    * symmetric Jaccard stays low). Same int64-hashed shingle path and
    * same-source + shared-shingle blocking as `llm_ngram_jaccard`; the
    * filter keeps pairs where either direction ≥ 0.5. */
  def textContainment(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleSet(s, dir)
    val cands = sh.as("a")
      .join(sh.as("b"),
        col("a.source") === col("b.source") && col("a.sh") === col("b.sh")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val szs = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = cands
      .join(sh.select("doc_id", "sh").as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(sh.select("doc_id", "sh").as("sb"),
        col("doc_b") === col("sb.doc_id") && col("sa.sh") === col("sb.sh"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(szs.as("za"), col("doc_a") === col("za.doc_id"))
      .join(szs.as("zb"), col("doc_b") === col("zb.doc_id"))
      .filter(greatest(col("n_inter") / col("za.n_sh"),
        col("n_inter") / col("zb.n_sh")) >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("n_inter"),
        (col("n_inter") / col("za.n_sh")).as("cont_a"),
        (col("n_inter") / col("zb.n_sh")).as("cont_b"))
      .tappedLocalCheckpoint()
  }

  /** Cross-document duplicated-substring RUNS — span-level exact dedup
    * (Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better"): a token 3-gram appearing in MORE THAN ONE
    * document marks its start position as duplicated; maximal runs of
    * consecutive duplicated positions ≥ 5 tokens are the spans a
    * span-level dedup would cut. Doc-level near-dedup drops whole
    * documents; this finds the boilerplate/quotation spans INSIDE
    * otherwise-unique documents — the complementary operator.
    *
    * 100 TB shape — linear, no pairwise step anywhere: (1) position-
    * stamped shingle stream (fanned out before the ~n× generate);
    * (2) duplicated-shingle set via (sh, doc) distinct + count>1 (two
    * map-side-combinable shuffles on the shingle key); (3) equi-join
    * positions against that set (same key, same shuffle); (4) per-doc
    * gaps-and-islands window (one shuffle on doc_id). The suffix-array
    * formulation recalls runs of ANY length; the fixed-k approximation
    * recalls every run ≥ k and is the standard scalable substitute.
    * The fixture keys on the literal shingle string (engine-neutral
    * for the oracle); production keys on the int64 shingle hash (the
    * minhash path) to shrink the shuffle. */
  /** Position-stamped shingle stream, memoized per (session, dir): the
    * runs query consumes it twice (positions + dup-set) and the apply
    * query three times — staging it once is the same build-the-index-
    * once shape as [[shingleSet]]. */
  private def shinglePositions(s: SparkSession, dir: String): DataFrame =
    memo(s, s"shpos:$dir")(
      shinglePositionsBuildPlan(s, dir).countedLocalCheckpoint())

  /** The UNMEMOIZED position-stamped shingle build, exposed (like
    * [[minhashSigsBuildPlan]]) so PlanShapeSpec can pin the staged
    * single-split shape on the plan the memo actually executes — the
    * graded consumers only ever see the checkpoint scan. */
  private[graft] def shinglePositionsBuildPlan(s: SparkSession,
      dir: String): DataFrame =
    docs(s, dir).repartition(fanout(s))
      // token array staged behind a projection boundary, so the split
      // runs once per doc; the `word_shingles` kernel keeps the whole
      // stage in codegen.
      //
      // Carries `source` (r16) so the sigs and shingleset memos can
      // derive from THIS staged stream instead of re-tokenizing the
      // corpus once per memo — one tokenize per staging build.
      .select(col("doc_id"), col("source"), toks(col("text")).as("t"))
      .select(col("doc_id"), col("source"), posexplode(shingles(col("t")))
        .as(Seq("pos", "sh")))
      .select(col("doc_id"), col("source"),
        col("pos").cast("long").as("pos"), col("sh"))

  /** Explicit build of every session-memoized shared index relation —
    * the "build the index once" step a real curation pipeline runs
    * before its query fan-out, surfaced as its own named entry so the
    * cost is attributed HERE and not to whichever llm_* query happens
    * to run first (r8's bench charged the whole minhash-pair build to
    * `llm_cc_altstar`, which then looked 3× its true cost). Output is
    * one graded row per staged relation with its cardinality, so the
    * staging step is itself oracle-checked. The bench runs this entry
    * first; every later query's number is then its own work.
    *
    * The counts are the ones recorded when each memo was built (an
    * observation on its checkpoint's job, see [[memo]]), returned as a
    * local relation: this query runs no job of its own and reads no
    * memo block, so a lost block shows in the memo's consumers, not
    * here. After [[releaseMemo]] it rebuilds and counts afresh. */
  def stageIndex(s: SparkSession, dir: String): DataFrame = memoCache.synchronized {
    def one(name: String, key: String, build: => DataFrame): (String, Long) = {
      build
      (name, memoRows(s, s"$key:$dir"))
    }
    val rows = Seq(
      one("dedup_clusters", "clusters", dedupClusters(s, dir)),
      one("minhash_band_sigs", "sigs", minhashSigs(s, dir)),
      one("minhash_neardup_pairs", "neardup", minhashNearDup(s, dir)),
      one("shingle_positions", "shpos", shinglePositions(s, dir)),
      one("shingle_set", "shingleset", shingleSet(s, dir)))
    s.createDataFrame(rows).toDF("relation", "n_rows")
  }

  def substringRuns(s: SparkSession, dir: String): DataFrame = {
    val minRunTokens = 5
    val pos = shinglePositions(s, dir)
    val dup = pos.select("sh", "doc_id").distinct()
      .groupBy("sh").agg(count(lit(1)).as("nd"))
      .filter(col("nd") > 1).select("sh")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    pos.join(dup, Seq("sh"))
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("run_start"),
        (max(col("pos")) - min(col("pos")) + lit(3L)).as("run_tokens"),
        count(lit(1)).as("n_shingles"))
      .filter(col("run_tokens") >= minRunTokens)
      .select("doc_id", "run_start", "run_tokens", "n_shingles")
  }

  /** Span-level dedup APPLY — the rewrite half of [[substringRuns]]:
    * every token covered by a duplicated run ≥ 5 tokens is cut and the
    * document reassembled from the survivors (Lee et al. cut exactly
    * these spans before training). Graded scalars only: token counts
    * before/after and the md5 of the reassembled text (the text itself
    * would be an unbounded graded column).
    *
    * Scale: [[substringRuns]]'s linear pipeline, plus one explode of
    * run extents (bounded by corpus token count), a posexplode of the
    * token stream, a left-anti equi-join on (doc_id, pos), and one
    * per-doc re-aggregation — every step linear in corpus tokens. The
    * earlier formulation kept a per-doc drop-position SET and rebuilt
    * each doc with a per-token `array_contains` scan — O(tokens ×
    * drop-positions) per doc, quadratic exactly on the boilerplate-
    * heavy docs this operator targets (13.0 s at sf0.1 vs ~1.4 s for
    * the find half). The anti-join carries the same answer with no
    * per-doc membership scan at all. */
  def substringDedupApply(s: SparkSession, dir: String): DataFrame = {
    val dropPos = substringRuns(s, dir)
      .select(col("doc_id"),
        explode(sequence(col("run_start"),
          col("run_start") + col("run_tokens") - 1)).as("pos"))
    survivorsAfterCuts(s, dir, dropPos)
  }

  /** Shared rebuild tail for the span-cut operators: given the
    * (doc_id, pos) positions to DROP, reassemble every document from
    * the surviving tokens and report before/after token counts plus
    * the cleaned-text digest. Survivor tokens re-assemble in position
    * order: pos is unique within a doc, so array_sort over
    * struct(pos, tok) is a total, deterministic order and
    * collect_list's arrival order washes out. Fully-cut docs (absent
    * from the anti-join survivors) still report, with the
    * empty-string md5. Linear: one posexplode, one anti equi-join,
    * one per-doc aggregation. */
  private def survivorsAfterCuts(s: SparkSession, dir: String,
      dropPos: DataFrame): DataFrame = {
    val tokPos = docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"),
        posexplode(toks(col("text"))).as(Seq("pos", "tok")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"), col("tok"))
    val rebuilt = tokPos.join(dropPos, Seq("doc_id", "pos"), "left_anti")
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("tok")))).as("kp"))
      .select(col("doc_id"),
        size(col("kp")).cast("long").as("n_tokens_after"),
        md5(concat_ws(" ",
          transform(col("kp"), p => p.getField("tok")))).as("cleaned_md5"))
    docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"),
        size(toks(col("text"))).cast("long").as("n_tokens_before"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens_before"),
        coalesce(col("n_tokens_after"), lit(0L)).as("n_tokens_after"),
        coalesce(col("cleaned_md5"), md5(lit(""))).as("cleaned_md5"))
  }

  /** EXACT duplicated-substring cut (Lee et al. 2022 semantics) —
    * upgrading [[substringRuns]]'s approximation to an exact coverage
    * decision with no suffix structure: a token position must be cut
    * iff it lies inside SOME substring of ≥ L tokens that occurs ≥ 2
    * times in the corpus (within-doc repeats included — a doc pasting
    * its own boilerplate twice duplicates it just as surely as two
    * docs sharing it). Key fact making this exact WITHOUT a suffix
    * array: every length-L window of a duplicated ≥L-token substring
    * is itself duplicated, and conversely a duplicated L-window IS a
    * duplicated substring of length L — so "covered by a duplicated
    * exactly-L window" ≡ "inside a duplicated ≥L substring". The
    * cross-doc 3-gram formulation above over-merges mosaics (each
    * 3-gram duplicated somewhere, the union nowhere) and misses
    * within-doc repeats; this one does neither.
    *
    * 100 TB shape — linear, no pairwise step, no suffix array: (1)
    * position-stamped L-token windows (slice+join per window, L=5
    * constant work per token); (2) occurrence count ≥ 2 on the int64
    * window hash (one map-side-combinable shuffle); (3) explode each
    * duplicated start to its L covered positions (≤ L× the dup-start
    * count); (4) the shared anti-join rebuild. The Lee et al. suffix
    * array earns its complexity only when L is large enough that
    * length-L windows get expensive (they used 50-token spans over
    * BPE ids); at the window sizes a token-level pipeline uses, the
    * window-count formulation is exact and embarrassingly parallel. */
  def substringExact(s: SparkSession, dir: String): DataFrame = {
    val L = 5
    val win = docs(s, dir).repartition(fanout(s))
      .select(col("doc_id"), toks(col("text")).as("t"))
      .filter(size(col("t")) >= L)
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), size(col("t")) - L),
          i => concat_ws(" ", slice(col("t"), i + 1, lit(L)))))
          .as(Seq("pos", "w")))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        xxhash64(col("w")).as("wh"))
    val dupW = win.groupBy("wh").agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select("wh")
    val cut = win.join(dupW, Seq("wh"), "left_semi")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + L - 1)).as("pos"))
    survivorsAfterCuts(s, dir, cut)
  }

  /** MinHash-banding RECALL against exhaustive ground truth — the
    * llm_ann_recall protocol applied to the dedup path: a banded-LSH
    * configuration is only trustworthy with a measured miss rate.
    * Ground truth is every pair with exact shingle Jaccard ≥ 0.5
    * over shared-shingle blocking with NO source restriction — at
    * J ≥ 0.5 a pair always shares a shingle, so this blocking is
    * exhaustive, not approximate, and still never all-pairs (the
    * self-join only meets within shingle buckets). The LSH side is
    * the graded near-dup pipeline itself; its verify step already
    * enforces J ≥ 0.5, so lsh ⊆ truth and recall = n_lsh / n_truth —
    * n_hit is materialized anyway to keep the metric honest if the
    * verify threshold ever drifts. */
  def minhashRecall(s: SparkSession, dir: String): DataFrame = {
    val sh = shingleSet(s, dir)
    // Exhaustive blocking means EVERY shared distinct shingle of a
    // pair appears as exactly one join row — so the intersection size
    // falls straight out of the blocking join (one aggregation), with
    // no candidate-distinct + shingle re-join round trip. Half the
    // work of the generic withJaccard path, same numbers.
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val truth = sh.as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(count(lit(1)).as("n_inter"))
      .join(sizes.as("za"), col("doc_a") === col("za.doc_id"))
      .join(sizes.as("zb"), col("doc_b") === col("zb.doc_id"))
      .filter(col("n_inter") /
        (col("za.n_sh") + col("zb.n_sh") - col("n_inter")) >= 0.5)
      .select("doc_a", "doc_b")
      .tappedLocalCheckpoint()
    val lsh = minhashNearDup(s, dir).select("doc_a", "doc_b")
    val hits = truth.join(lsh, Seq("doc_a", "doc_b"), "left_semi")
    truth.agg(count(lit(1)).as("n_truth"))
      .crossJoin(lsh.agg(count(lit(1)).as("n_lsh")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_truth"), col("n_lsh"), col("n_hit"),
        (col("n_hit") / col("n_truth")).as("recall"))
  }

  /** Sampled MinHash-recall audit — the production-shape counterpart
    * of [[minhashRecall]]. The exhaustive audit's ground truth is the
    * full shared-shingle self-join (Σdf² blocking mass — definitionally
    * super-linear on a bounded vocabulary, and the registry's one
    * allowlisted quadratic). A production pipeline estimates the same
    * recall from k probe documents: ground truth restricted to pairs
    * that CONTAIN a probe is exhaustive *per probe* (a J ≥ 0.5 pair
    * always shares a shingle, so probe-shingles × corpus meets every
    * true partner of every probe — no df ceiling needed once k is
    * fixed, which also keeps the estimate unbiased rather than
    * df-truncated), and the blocking mass is ≤ k · shingles-per-doc ·
    * corpus rows — O(k · corpus), linear by construction.
    *
    * Probes are the k smallest doc_ids by md5(doc_id) — a deterministic
    * uniform draw both engines can reproduce ordinally (same spelling
    * as [[stratifiedSplit]]'s md5-derived uniform). Micro-averaged:
    * recall = |true probe pairs found by LSH| / |true probe pairs|
    * (a pair of two probes legitimately counts once per probe side —
    * it is a per-probe estimator, not a pair census). */
  def minhashRecallSampled(s: SparkSession, dir: String): DataFrame = {
    val k = 64
    val probes = docs(s, dir)
      .select(col("doc_id"))
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(k)
    val sh = shingleSet(s, dir).select("doc_id", "sh")
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    // k-bounded relations: both hints survive any corpus size by
    // construction (probes is LIMIT k; probeSh is k docs' shingle
    // sets), which the broadcast census verifies across scale steps.
    val probeSh = sh.join(broadcast(probes), Seq("doc_id"), "left_semi")
    // Exhaustive per-probe blocking off the staged shingle index: one
    // equi-join + one aggregation, n_inter falls out of the join like
    // the exhaustive audit's streamed shape.
    val ti = broadcast(probeSh).as("a")
      .join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("probe"), col("b.doc_id").as("other"))
      .agg(count(lit(1)).as("n_inter"))
    val truth = ti
      .join(sizes.as("za"), col("probe") === col("za.doc_id"))
      .join(sizes.as("zb"), col("other") === col("zb.doc_id"))
      .filter(col("n_inter") /
        (col("za.n_sh") + col("zb.n_sh") - col("n_inter")) >= 0.5)
      .select("probe", "other")
      .tappedLocalCheckpoint()
    // The LSH side is the graded pipeline itself (staged pair memo);
    // its pairs are (min, max)-oriented while probe pairs are
    // probe-oriented, so membership normalizes with least/greatest —
    // still two equi keys, so this plans as a hash join.
    val lsh = minhashNearDup(s, dir).select("doc_a", "doc_b")
    val hits = truth.join(lsh,
      least(col("probe"), col("other")) === col("doc_a") &&
        greatest(col("probe"), col("other")) === col("doc_b"), "left_semi")
    probes.agg(count(lit(1)).as("n_probes"))
      .crossJoin(truth.agg(count(lit(1)).as("n_truth")))
      .crossJoin(hits.agg(count(lit(1)).as("n_hit")))
      .select(col("n_probes"), col("n_truth"), col("n_hit"),
        (col("n_hit") / col("n_truth")).as("recall"))
  }

  /** Distributed inverted-index build — the retrieval-side artifact a
    * curation stack derives from the corpus (BM25/decontamination both
    * consume this shape). Two map-side-combinable aggregations: one on
    * (term, doc) for tf, one on term for the posting list — at 100 TB
    * both shuffles carry (hashable-term, int64) pairs. Posting arrays
    * are sorted so the output is canonical under any partitioning.
    * Production-scale note: a stopword's posting list concentrates a
    * corpus-sized array on one reducer — a real 100 TB index splits
    * hot terms into chunked lists (term, chunk_no, ids) or drops them
    * by a df ceiling; the fixture vocabulary is tiny and bounded, so
    * the full lists here stay small and the hash covers every id.
    * Postings are emitted as a comma-joined STRING, not ARRAY: the
    * grading harness canonicalizes via a pandas sort that cannot
    * order list cells, so every graded column must be scalar. */
  def invertedIndex(s: SparkSession, dir: String): DataFrame = {
    val tf = docs(s, dir)
      .select(col("doc_id"), explode(toks(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))
    tf.groupBy("term")
      .agg(count(lit(1)).as("df"),
        sum("tf").cast("long").as("total_tf"),
        array_join(
          transform(sort_array(collect_list(col("doc_id"))),
            _.cast("string")), ",").as("postings"))
  }

  /** Per-source dataset card — the summary table a curation run
    * publishes next to its output (docs, token/char volume, language
    * spread, exact-dup rate): one grouped pass, every stat mergeable.
    * `dup_ratio` is emitted RAW (integer counts → one IEEE divide,
    * bit-identical in both engines); an engine-side round would
    * re-introduce the decimal-midpoint divergence this repo's
    * determinism rules exist to avoid. */
  def datasetCard(s: SparkSession, dir: String): DataFrame = {
    val normMd5 =
      md5(lower(trim(regexp_replace(col("text"), "\\s+", " "))))
    docs(s, dir).groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(toks(col("text")))).cast("long").as("n_tokens"),
        sum(length(col("text"))).cast("long").as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        (lit(1.0) - countDistinct(normMd5).cast("double")
          / count(lit(1)).cast("double")).as("dup_ratio"))
  }

  /** Near-dup pair census by SOURCE pair — the data-governance view of
    * the LSH index: which dataset pairs leak into each other (the
    * question a multi-source corpus audit asks before mixing). Pure
    * consumer of the staged pair memo ([[minhashNearDup]]) plus one
    * dimension join; the jaccard mean is rounded at 6 dp (sum-order
    * ulp protection, the ccnet precedent). */
  def crossSourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashNearDup(s, dir)
    val src = docs(s, dir).select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("doc_a"), col("source").as("sa")),
        "doc_a")
      .join(src.select(col("doc_id").as("doc_b"), col("source").as("sb")),
        "doc_b")
      .select(least(col("sa"), col("sb")).as("source_a"),
        greatest(col("sa"), col("sb")).as("source_b"), col("jaccard"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("n_pairs"),
        round(avg("jaccard"), 6).as("mean_jaccard"))
  }

  /** Deterministic contrastive-triplet mining: for every doc with a
    * near-dup, (anchor, positive, negative) where positive = its
    * highest-jaccard LSH partner and negative = the md5-argmin
    * non-partner from a bounded candidate slice (doc_id < 64) — the
    * (A, A′, B) construction of contrastive/embedding training data.
    * The only non-equi step is the anchors × 64-candidate broadcast
    * product, bounded by construction (a real pipeline samples
    * negatives from a fixed reservoir the same way); everything else
    * consumes the staged pair memo. */
  def contrastivePairs(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashNearDup(s, dir)
    val both = pairs
      .select(col("doc_a").as("anchor"), col("doc_b").as("partner"),
        col("jaccard"))
      .unionByName(pairs.select(col("doc_b").as("anchor"),
        col("doc_a").as("partner"), col("jaccard")))
    val wp = Window.partitionBy("anchor")
      .orderBy(col("jaccard").desc, col("partner"))
    val pos = both.withColumn("rn", row_number().over(wp))
      .filter(col("rn") === 1)
      .select(col("anchor"), col("partner").as("positive"),
        col("jaccard").as("jaccard_pos"))
    val cands = docs(s, dir).select(col("doc_id").as("cand"))
      .filter(col("cand") < 64)
    val wn = Window.partitionBy("anchor").orderBy(col("h"), col("cand"))
    val neg = pos.select("anchor")
      .crossJoin(broadcast(cands))
      .filter(col("cand") =!= col("anchor"))
      .join(both.select(col("anchor"), col("partner").as("cand")),
        Seq("anchor", "cand"), "left_anti")
      .withColumn("h", md5(concat(col("anchor").cast("string"), lit(":"),
        col("cand").cast("string"))))
      .withColumn("rn", row_number().over(wn))
      .filter(col("rn") === 1)
      .select(col("anchor"), col("cand").as("negative"))
    pos.join(neg, "anchor")
      .select(col("anchor"), col("positive"), col("negative"),
        col("jaccard_pos"))
  }

  /** Threshold-sweep over the verified near-dup pair table: pair and
    * affected-document counts at Jaccard cutoffs 0.5…0.9 — the tuning
    * table a dedup operator reads before picking its production
    * threshold. Pure consumer of the staged pair memo crossed with a
    * 5-row threshold dim; the ≥ comparisons are exact-ratio-vs-
    * literal, identical on both engines.
    *
    * The distinct counts are sizes of collected sets, not two
    * `countDistinct`s: Spark's rewrite of several DISTINCT aggregates
    * orders them by a hash over expression ids, which each memo
    * rebuild renews, so that form planned (and compiled) a second time
    * on some rebuilds. */
  def dedupThresholdSweep(s: SparkSession, dir: String): DataFrame = {
    val pairs = minhashNearDup(s, dir)
    val thr = s.range(5, 10).toDF("i")
      .select((col("i") / 10.0).as("thr"))
    def nDistinct(c: String) = size(collect_set(col(c))).cast("long")
    broadcast(thr).join(pairs, col("jaccard") >= col("thr"))
      .groupBy("thr")
      .agg(count(lit(1)).as("n_pairs"),
        nDistinct("doc_a").as("n_docs_left"),
        nDistinct("doc_b").as("n_docs_right"))
  }

  // Shared oracle CTE fragments (DuckDB dialect).
  private val shingleCte =
    """d AS (SELECT doc_id, source, string_split(text, ' ') AS t FROM documents),
      |sh AS MATERIALIZED (SELECT DISTINCT doc_id, source,
      |         unnest(list_transform(range(greatest(len(t) - 2, 0)),
      |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
      |       FROM d)""".stripMargin

  /** The minhash band→candidate→verified-pair chain as a CTE list
    * ending in `pairs(doc_a, doc_b, jaccard)` — the pair relation the
    * source-overlap and contrastive-triplet oracles consume (the
    * final-SELECT spelling for the graded pair list itself is
    * [[jaccardTail]]). */
  private val minhashPairCtes =
    s"""bands AS (SELECT doc_id, unnest(range(8)) AS band, sh FROM sh),
      |msigs0 AS (SELECT doc_id, band,
      |           MIN(substr(CASE WHEN band < 4 THEN md5(sh) ELSE md5(sh || '#') END,
      |                      CAST((band % 4) * 8 + 1 AS INT), 8)) AS sig
      |         FROM bands GROUP BY doc_id, band),
      |msigs AS (SELECT doc_id, band, sig FROM
      |           (SELECT doc_id, band, sig,
      |              COUNT(*) OVER (PARTITION BY band, sig) AS bucket_n
      |            FROM msigs0) WHERE bucket_n <= $HotBucketCap),
      |mcands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |          FROM msigs a JOIN msigs b
      |            ON a.band = b.band AND a.sig = b.sig
      |           AND a.doc_id < b.doc_id),
      |msizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |minter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      |          FROM mcands c
      |          JOIN sh sa ON sa.doc_id = c.doc_a
      |          JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
      |          GROUP BY c.doc_a, c.doc_b),
      |pairs AS MATERIALIZED (SELECT doc_a, doc_b,
      |            n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) AS jaccard
      |          FROM minter
      |          JOIN msizes za ON za.doc_id = doc_a
      |          JOIN msizes zb ON zb.doc_id = doc_b
      |          WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.5)""".stripMargin

  private val jaccardTail =
    """sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
      |          FROM cands c
      |          JOIN sh sa ON sa.doc_id = c.doc_a
      |          JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
      |          GROUP BY c.doc_a, c.doc_b)
      |SELECT doc_a, doc_b,
      |  n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) AS jaccard
      |FROM inter
      |JOIN sizes za ON za.doc_id = doc_a
      |JOIN sizes zb ON zb.doc_id = doc_b
      |WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.5""".stripMargin

  // Flattened single-level CTE list: DuckDB 1.0 rejects a WITH clause
  // inside a derived-table subquery, so the near-dup pair pipeline and
  // the recursive reachability share one WITH RECURSIVE list.
  private val dedupClustersSql =
    s"""WITH RECURSIVE $shingleCte,
       |bands AS (SELECT doc_id, unnest(range(8)) AS band, sh FROM sh),
       |sigs0 AS (SELECT doc_id, band,
       |           MIN(substr(CASE WHEN band < 4 THEN md5(sh) ELSE md5(sh || '#') END,
       |                      CAST((band % 4) * 8 + 1 AS INT), 8)) AS sig
       |         FROM bands GROUP BY doc_id, band),
       |sigs AS (SELECT doc_id, band, sig FROM
       |          (SELECT doc_id, band, sig,
       |             COUNT(*) OVER (PARTITION BY band, sig) AS bucket_n
       |           FROM sigs0) WHERE bucket_n <= $HotBucketCap),
       |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |          FROM sigs a JOIN sigs b
       |            ON a.band = b.band AND a.sig = b.sig
       |           AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
       |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
       |          FROM cands c
       |          JOIN sh sa ON sa.doc_id = c.doc_a
       |          JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
       |          GROUP BY c.doc_a, c.doc_b),
       |pairs AS (SELECT doc_a, doc_b FROM inter
       |          JOIN sizes za ON za.doc_id = doc_a
       |          JOIN sizes zb ON zb.doc_id = doc_b
       |          WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.5),
       |edges AS (SELECT doc_a, doc_b FROM pairs
       |          UNION ALL SELECT doc_b, doc_a FROM pairs),
       |reach AS (
       |  SELECT DISTINCT doc_a AS node, doc_a AS r FROM edges
       |  UNION
       |  SELECT e.doc_a AS node, reach.r FROM edges e
       |  JOIN reach ON e.doc_b = reach.node)
       |SELECT node AS doc_id, MIN(r) AS cluster_id,
       |  MIN(r) = node AS is_keeper
       |FROM reach GROUP BY node""".stripMargin

  /** Same pipeline, applied: the surviving corpus. */
  private val dedupApplySql = {
    val prefix = dedupClustersSql.substring(0,
      dedupClustersSql.indexOf("SELECT node AS doc_id"))
    prefix.trim + ",\n" +
      """dropped AS (SELECT node FROM reach GROUP BY node HAVING MIN(r) <> node)
        |SELECT d.doc_id, d.lang, d.source, d.n_chars
        |FROM documents d
        |WHERE d.doc_id NOT IN (SELECT node FROM dropped)""".stripMargin
  }

  private val uSql =
    """((((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
      |    + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) * 16
      |    + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 3, 1)) - 1) * 16
      |    + instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 4, 1)) - 1) / 65536.0""".stripMargin

  val queries: Seq[QueryDef] = Seq(
    QueryDef("llm_dedup_threshold_sweep", dedupThresholdSweep,
      s"""WITH $shingleCte,
         |$minhashPairCtes,
         |thr AS (SELECT i / 10.0 AS thr FROM (
         |          SELECT UNNEST(generate_series(5, 9)) AS i) g)
         |SELECT thr.thr, COUNT(*) AS n_pairs,
         |  COUNT(DISTINCT p.doc_a) AS n_docs_left,
         |  COUNT(DISTINCT p.doc_b) AS n_docs_right
         |FROM thr JOIN pairs p ON p.jaccard >= thr.thr
         |GROUP BY thr.thr""".stripMargin),
    QueryDef("llm_dataset_card", datasetCard,
      """SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS n_tokens,
        |  CAST(SUM(length(text)) AS BIGINT) AS n_chars,
        |  COUNT(DISTINCT lang) AS n_langs,
        |  1.0 - COUNT(DISTINCT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))))
        |        * 1.0 / COUNT(*) AS dup_ratio
        |FROM documents GROUP BY source""".stripMargin),
    // Staging cardinalities: the clusters/pairs counts reuse the full
    // near-dup pipeline CTEs (flattened single WITH RECURSIVE list —
    // DuckDB rejects a WITH inside a derived-table subquery); the
    // shingle counts fall straight out of the d/sh CTEs.
    QueryDef("llm_stage_index", stageIndex, {
      val prefix = dedupClustersSql.substring(0,
        dedupClustersSql.indexOf("SELECT node AS doc_id"))
      prefix.trim + ",\n" +
        """clusters AS (SELECT node, MIN(r) AS cluster_id
          |             FROM reach GROUP BY node)
          |SELECT 'dedup_clusters' AS relation,
          |       (SELECT COUNT(*) FROM clusters) AS n_rows
          |UNION ALL SELECT 'minhash_band_sigs',
          |       (SELECT COUNT(*) FROM sigs0)
          |UNION ALL SELECT 'minhash_neardup_pairs',
          |       (SELECT COUNT(*) FROM pairs)
          |UNION ALL SELECT 'shingle_positions',
          |       (SELECT CAST(COALESCE(SUM(GREATEST(len(t) - 2, 0)), 0)
          |               AS BIGINT) FROM d)
          |UNION ALL SELECT 'shingle_set',
          |       (SELECT COUNT(*) FROM sh)""".stripMargin
    }),
    QueryDef("llm_inverted_index", invertedIndex,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT term, doc_id, COUNT(*) AS tf
        |       FROM tok GROUP BY term, doc_id)
        |SELECT term, COUNT(*) AS df, CAST(SUM(tf) AS BIGINT) AS total_tf,
        |       string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id)
        |         AS postings
        |FROM tf GROUP BY term""".stripMargin),
    QueryDef("llm_minhash_recall", minhashRecall,
      s"""WITH $shingleCte,
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |-- n_inter in ONE streamed join+aggregate: the truth side must
         |-- consider every pair sharing >=1 shingle, and the previous
         |-- distinct-pairs-then-rejoin shape re-expanded each candidate
         |-- pair by its ~48 shingles twice (a ~1.5G-row intermediate at
         |-- sf1 that exceeded the machine's entire spill disk); counting
         |-- directly off the shingle self-join streams the hub-shingle
         |-- fan-out through the aggregation instead of materializing it.
         |ti AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |              COUNT(*) AS n_inter
         |       FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |       GROUP BY a.doc_id, b.doc_id),
         |truth AS (SELECT doc_a, doc_b FROM ti
         |          JOIN sizes za ON za.doc_id = doc_a
         |          JOIN sizes zb ON zb.doc_id = doc_b
         |          WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.5),
         |bands AS (SELECT doc_id, unnest(range(8)) AS band, sh FROM sh),
         |sigs0 AS (SELECT doc_id, band,
         |           MIN(substr(CASE WHEN band < 4 THEN md5(sh) ELSE md5(sh || '#') END,
         |                      CAST((band % 4) * 8 + 1 AS INT), 8)) AS sig
         |         FROM bands GROUP BY doc_id, band),
         |sigs AS (SELECT doc_id, band, sig FROM
         |          (SELECT doc_id, band, sig,
         |             COUNT(*) OVER (PARTITION BY band, sig) AS bucket_n
         |           FROM sigs0) WHERE bucket_n <= $HotBucketCap),
         |lc AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |       FROM sigs a JOIN sigs b ON a.band = b.band AND a.sig = b.sig
         |        AND a.doc_id < b.doc_id),
         |li AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
         |       FROM lc c JOIN sh sa ON sa.doc_id = c.doc_a
         |                 JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
         |       GROUP BY c.doc_a, c.doc_b),
         |lsh AS (SELECT doc_a, doc_b FROM li
         |        JOIN sizes za ON za.doc_id = doc_a
         |        JOIN sizes zb ON zb.doc_id = doc_b
         |        WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.5),
         |hit AS (SELECT * FROM truth INTERSECT SELECT * FROM lsh)
         |SELECT (SELECT COUNT(*) FROM truth) AS n_truth,
         |       (SELECT COUNT(*) FROM lsh) AS n_lsh,
         |       (SELECT COUNT(*) FROM hit) AS n_hit,
         |       (SELECT COUNT(*) FROM hit) * 1.0
         |         / (SELECT COUNT(*) FROM truth) AS recall""".stripMargin),
    QueryDef("llm_minhash_recall_sampled", minhashRecallSampled,
      s"""WITH $shingleCte,
         |$minhashPairCtes,
         |probes AS (SELECT doc_id FROM documents
         |           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 64),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |psh AS (SELECT doc_id, sh FROM sh
         |        WHERE doc_id IN (SELECT doc_id FROM probes)),
         |ti AS (SELECT a.doc_id AS probe, b.doc_id AS other,
         |              COUNT(*) AS n_inter
         |       FROM psh a JOIN sh b ON a.sh = b.sh AND a.doc_id <> b.doc_id
         |       GROUP BY a.doc_id, b.doc_id),
         |truth AS (SELECT probe, other FROM ti
         |          JOIN sizes za ON za.doc_id = probe
         |          JOIN sizes zb ON zb.doc_id = other
         |          WHERE n_inter * 1.0 / (za.n_sh + zb.n_sh - n_inter) >= 0.5),
         |hit AS (SELECT t.probe, t.other FROM truth t
         |        WHERE EXISTS (SELECT 1 FROM pairs p
         |                      WHERE p.doc_a = least(t.probe, t.other)
         |                        AND p.doc_b = greatest(t.probe, t.other)))
         |SELECT (SELECT COUNT(*) FROM probes) AS n_probes,
         |       (SELECT COUNT(*) FROM truth) AS n_truth,
         |       (SELECT COUNT(*) FROM hit) AS n_hit,
         |       (SELECT COUNT(*) FROM hit) * 1.0
         |         / (SELECT COUNT(*) FROM truth) AS recall""".stripMargin),
    QueryDef("llm_substring_runs", substringRuns,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |px AS (SELECT doc_id, t,
        |         CAST(unnest(range(greatest(len(t) - 2, 0))) AS BIGINT) AS pos
        |       FROM d),
        |p AS (SELECT doc_id, pos,
        |        t[pos+1] || ' ' || t[pos+2] || ' ' || t[pos+3] AS sh
        |      FROM px),
        |dup AS (SELECT sh FROM (
        |          SELECT sh, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY sh)
        |        WHERE nd > 1),
        |r AS (SELECT doc_id, pos,
        |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM p JOIN dup USING (sh))
        |SELECT doc_id, MIN(pos) AS run_start,
        |  MAX(pos) - MIN(pos) + 3 AS run_tokens,
        |  COUNT(*) AS n_shingles
        |FROM r GROUP BY doc_id, grp
        |HAVING MAX(pos) - MIN(pos) + 3 >= 5""".stripMargin),
    QueryDef("llm_substring_dedup", substringDedupApply,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |px AS (SELECT doc_id, t,
        |         CAST(unnest(range(greatest(len(t) - 2, 0))) AS BIGINT) AS pos
        |       FROM d),
        |p AS (SELECT doc_id, pos,
        |        t[pos+1] || ' ' || t[pos+2] || ' ' || t[pos+3] AS sh
        |      FROM px),
        |dup AS (SELECT sh FROM (
        |          SELECT sh, COUNT(DISTINCT doc_id) AS nd FROM p GROUP BY sh)
        |        WHERE nd > 1),
        |r AS (SELECT doc_id, pos,
        |        pos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
        |      FROM p JOIN dup USING (sh)),
        |runs AS (SELECT doc_id, MIN(pos) AS run_start,
        |           MAX(pos) - MIN(pos) + 3 AS run_tokens
        |         FROM r GROUP BY doc_id, grp
        |         HAVING MAX(pos) - MIN(pos) + 3 >= 5),
        |dl AS (SELECT doc_id, list(dp) AS dps FROM (
        |         SELECT doc_id, CAST(unnest(range(run_start,
        |           run_start + run_tokens)) AS BIGINT) AS dp FROM runs)
        |       GROUP BY doc_id),
        |k AS (SELECT d.doc_id, d.t,
        |        COALESCE(dl.dps, CAST([] AS BIGINT[])) AS dps
        |      FROM d LEFT JOIN dl USING (doc_id)),
        |kept AS (SELECT doc_id, len(t) AS n_before,
        |           list_filter(list_transform(range(len(t)),
        |             i -> CASE WHEN NOT list_contains(dps, i)
        |                       THEN t[i+1] END),
        |             x -> x IS NOT NULL) AS kt
        |         FROM k)
        |SELECT doc_id, n_before AS n_tokens_before,
        |  len(kt) AS n_tokens_after,
        |  -- array_to_string([]) is NULL in DuckDB but '' under Spark's
        |  -- concat_ws — pin the fully-deduplicated-doc case
        |  md5(COALESCE(array_to_string(kt, ' '), '')) AS cleaned_md5
        |FROM kept""".stripMargin),
    // Exact window-coverage cut: duplicated L=5 windows by TOTAL
    // occurrence count (within-doc repeats count), each dup start
    // covering its 5 positions; rebuild mirrors llm_substring_dedup.
    QueryDef("llm_substring_exact", substringExact,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |px AS (SELECT doc_id, t,
        |         CAST(unnest(range(greatest(len(t) - 4, 0))) AS BIGINT) AS pos
        |       FROM d),
        |g AS (SELECT doc_id, pos,
        |        t[pos+1] || ' ' || t[pos+2] || ' ' || t[pos+3] || ' ' ||
        |        t[pos+4] || ' ' || t[pos+5] AS w
        |      FROM px),
        |dup AS (SELECT w FROM (SELECT w, COUNT(*) AS c FROM g GROUP BY w)
        |        WHERE c > 1),
        |cut AS (SELECT DISTINCT doc_id, g.pos + o.off AS cpos
        |        FROM g JOIN dup USING (w)
        |        CROSS JOIN (SELECT CAST(unnest(range(5)) AS BIGINT) AS off) o),
        |dl AS (SELECT doc_id, list(cpos) AS dps FROM cut GROUP BY doc_id),
        |k AS (SELECT d.doc_id, d.t,
        |        COALESCE(dl.dps, CAST([] AS BIGINT[])) AS dps
        |      FROM d LEFT JOIN dl USING (doc_id)),
        |kept AS (SELECT doc_id, len(t) AS n_before,
        |           list_filter(list_transform(range(len(t)),
        |             i -> CASE WHEN NOT list_contains(dps, i)
        |                       THEN t[i+1] END),
        |             x -> x IS NOT NULL) AS kt
        |         FROM k)
        |SELECT doc_id, n_before AS n_tokens_before,
        |  len(kt) AS n_tokens_after,
        |  md5(COALESCE(array_to_string(kt, ' '), '')) AS cleaned_md5
        |FROM kept""".stripMargin),
    QueryDef("text_containment", textContainment,
      s"""WITH $shingleCte,
         |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM sh a JOIN sh b
         |            ON a.source = b.source AND a.sh = b.sh
         |           AND a.doc_id < b.doc_id),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
         |          FROM cands c
         |          JOIN sh sa ON sa.doc_id = c.doc_a
         |          JOIN sh sb ON sb.doc_id = c.doc_b AND sa.sh = sb.sh
         |          GROUP BY c.doc_a, c.doc_b)
         |SELECT i.doc_a, i.doc_b, i.n_inter,
         |       i.n_inter / za.n_sh AS cont_a,
         |       i.n_inter / zb.n_sh AS cont_b
         |FROM inter i JOIN sizes za ON i.doc_a = za.doc_id
         |             JOIN sizes zb ON i.doc_b = zb.doc_id
         |WHERE greatest(i.n_inter / za.n_sh, i.n_inter / zb.n_sh) >= 0.5""".stripMargin),
    QueryDef("llm_exact_dedup", exactDedup,
      """SELECT md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS norm_md5,
        |  MIN(doc_id) AS keeper_doc_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin),
    QueryDef("llm_minhash_sigs", minhashSignatures,
      s"""WITH $shingleCte,
         |bands AS (SELECT doc_id, unnest(range(8)) AS band, sh FROM sh)
         |SELECT doc_id, CAST(band AS INT) AS band,
         |  MIN(substr(CASE WHEN band < 4 THEN md5(sh) ELSE md5(sh || '#') END,
         |             CAST((band % 4) * 8 + 1 AS INT), 8)) AS sig
         |FROM bands GROUP BY doc_id, band""".stripMargin),
    QueryDef("llm_minhash_neardup", minhashNearDup,
      s"""WITH $shingleCte,
         |bands AS (SELECT doc_id, unnest(range(8)) AS band, sh FROM sh),
         |sigs0 AS (SELECT doc_id, band,
         |           MIN(substr(CASE WHEN band < 4 THEN md5(sh) ELSE md5(sh || '#') END,
         |                      CAST((band % 4) * 8 + 1 AS INT), 8)) AS sig
         |         FROM bands GROUP BY doc_id, band),
         |sigs AS (SELECT doc_id, band, sig FROM
         |          (SELECT doc_id, band, sig,
         |             COUNT(*) OVER (PARTITION BY band, sig) AS bucket_n
         |           FROM sigs0) WHERE bucket_n <= $HotBucketCap),
         |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM sigs a JOIN sigs b
         |            ON a.band = b.band AND a.sig = b.sig
         |           AND a.doc_id < b.doc_id),
         |$jaccardTail""".stripMargin),
    QueryDef("llm_ngram_jaccard", ngramJaccard,
      s"""WITH $shingleCte,
         |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM sh a JOIN sh b
         |            ON a.source = b.source AND a.sh = b.sh
         |           AND a.doc_id < b.doc_id),
         |$jaccardTail""".stripMargin),
    QueryDef("llm_simhash", simhash,
      """WITH tok AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
        |             FROM documents),
        |bits AS (SELECT doc_id, unnest(range(32)) AS pos, h FROM tok),
        |votes AS (SELECT doc_id, pos,
        |  SUM((((instr('0123456789abcdef', substr(h, CAST(pos // 4 AS INT) + 1, 1)) - 1)
        |        >> (3 - CAST(pos % 4 AS INT))) & 1) * 2 - 1) AS votes
        |  FROM bits GROUP BY doc_id, pos)
        |SELECT doc_id,
        |  CAST(SUM(CASE WHEN votes > 0
        |           THEN (CAST(1 AS BIGINT) << CAST(pos AS INT))
        |           ELSE 0 END) AS BIGINT) AS simhash
        |FROM votes GROUP BY doc_id""".stripMargin),
    QueryDef("llm_simhash_neardup", simhashNearDup,
      s"""WITH dial AS (SELECT w, CASE WHEN 4 * w <= 60 THEN 4 * w ELSE 2 * w END AS lo_bits
         |              FROM (SELECT LEAST(31, 8 + ${LlmVectors.ladderSql("n", 512L, 23)}) AS w
         |                    FROM (SELECT COUNT(*) AS n FROM documents))),
         |tok AS (SELECT doc_id, md5(unnest(string_split(text, ' '))) AS h
         |             FROM documents),
         |bits AS (SELECT doc_id, unnest(range(4 * (SELECT w FROM dial))) AS pos, h
         |         FROM tok),
         |votes AS (SELECT doc_id, pos,
         |  SUM((((instr('0123456789abcdef', substr(h, CAST(pos // 4 AS INT) + 1, 1)) - 1)
         |        >> (3 - CAST(pos % 4 AS INT))) & 1) * 2 - 1) AS votes
         |  FROM bits GROUP BY doc_id, pos),
         |sh AS (SELECT doc_id,
         |         CAST(SUM(CASE WHEN votes > 0 AND pos < (SELECT lo_bits FROM dial)
         |                  THEN (CAST(1 AS BIGINT) << CAST(pos AS INT))
         |                  ELSE 0 END) AS BIGINT) AS sh_lo,
         |         CAST(SUM(CASE WHEN votes > 0 AND pos >= (SELECT lo_bits FROM dial)
         |                  THEN (CAST(1 AS BIGINT)
         |                        << CAST(pos - (SELECT lo_bits FROM dial) AS INT))
         |                  ELSE 0 END) AS BIGINT) AS sh_hi
         |       FROM votes GROUP BY doc_id),
         |banded AS (SELECT doc_id, sh_lo, sh_hi, unnest(range(4)) AS band FROM sh),
         |b2 AS (SELECT doc_id, sh_lo, sh_hi, band,
         |         CASE WHEN band * (SELECT w FROM dial) < (SELECT lo_bits FROM dial)
         |           THEN (sh_lo >> CAST(band * (SELECT w FROM dial) AS INT))
         |             % (CAST(1 AS BIGINT) << CAST((SELECT w FROM dial) AS INT))
         |           ELSE (sh_hi >> CAST(band * (SELECT w FROM dial)
         |                               - (SELECT lo_bits FROM dial) AS INT))
         |             % (CAST(1 AS BIGINT) << CAST((SELECT w FROM dial) AS INT))
         |         END AS band_bits
         |       FROM banded),
         |cands AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |            CAST(bit_count(xor(a.sh_lo, b.sh_lo))
         |                 + bit_count(xor(a.sh_hi, b.sh_hi)) AS BIGINT) AS hamming
         |          FROM b2 a JOIN b2 b
         |            ON a.band = b.band AND a.band_bits = b.band_bits
         |           AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, hamming FROM cands WHERE hamming <= 3""".stripMargin),
    QueryDef("llm_dedup_clusters", dedupClusters, dedupClustersSql),
    QueryDef("llm_dedup_apply", dedupApply, dedupApplySql),
    // identical clustering through a different distributed algorithm —
    // the oracle is the same recursive-reachability SQL
    QueryDef("llm_cc_altstar", dedupClusters, dedupClustersSql),
    QueryDef("llm_tfidf", tfidf,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |       WHERE doc_id < 20 GROUP BY 1, 2),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (SELECT doc_id, tf.term AS term, tf,
        |         tf * LN((n_docs + 1.0) / (df + 1.0)) AS tfidf_raw
        |       FROM tf JOIN dfreq ON tf.term = dfreq.term CROSS JOIN n),
        |r AS (SELECT doc_id, term, tf, tfidf_raw,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |             ORDER BY tfidf_raw DESC, term) AS BIGINT) AS rnk
        |      FROM sc)
        |SELECT doc_id, rnk, term, tf, ROUND(tfidf_raw, 4) AS tfidf
        |FROM r WHERE rnk <= 3""".stripMargin),
    QueryDef("llm_bm25", bm25,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM tok
        |       WHERE doc_id < 20 GROUP BY 1, 2),
        |dl AS (SELECT doc_id, COUNT(*) AS dl FROM tok GROUP BY 1),
        |avgd AS (SELECT CAST(SUM(dl) AS DOUBLE)/COUNT(*) AS avgdl FROM dl),
        |dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
        |n AS (SELECT COUNT(*) AS n_docs FROM documents),
        |sc AS (SELECT tf.doc_id, tf.term AS term, tf,
        |         LN(1.0 + (n_docs - df + 0.5)/(df + 0.5))
        |           * (tf * (1.2 + 1.0))
        |           / (tf + 1.2 * (1.0 - 0.75 + 0.75 * dl / avgdl)) AS score_raw
        |       FROM tf JOIN dfreq ON tf.term = dfreq.term
        |       JOIN dl ON tf.doc_id = dl.doc_id
        |       CROSS JOIN n CROSS JOIN avgd),
        |r AS (SELECT doc_id, term, tf, score_raw,
        |        CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
        |             ORDER BY score_raw DESC, term) AS BIGINT) AS rnk
        |      FROM sc)
        |SELECT doc_id, rnk, term, tf, ROUND(score_raw, 4) AS bm25
        |FROM r WHERE rnk <= 3""".stripMargin),
    QueryDef("llm_ngram_lm", ngramLm,
      """WITH d AS (SELECT doc_id, string_split(text,' ') AS t FROM documents),
        |bg AS (SELECT doc_id, unnest(list_transform(range(len(t)-1),
        |         i -> struct_pack(w1 := t[i+1], w2 := t[i+2]))) AS b
        |       FROM d WHERE len(t) >= 2),
        |bi AS (SELECT doc_id, b.w1 AS w1, b.w2 AS w2 FROM bg),
        |c2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bi GROUP BY 1, 2),
        |tok AS (SELECT unnest(t) AS term FROM d),
        |c1 AS (SELECT term, COUNT(*) AS c1 FROM tok GROUP BY 1),
        |v AS (SELECT COUNT(DISTINCT term) AS v FROM tok)
        |SELECT bi.doc_id, COUNT(*) AS n_bigrams,
        |  ROUND(AVG(LN((c2 + 0.5)/(c1 + 0.5*v))), 6) AS score
        |FROM bi JOIN c2 USING (w1, w2) JOIN c1 ON bi.w1 = c1.term
        |CROSS JOIN v
        |WHERE bi.doc_id < 50 GROUP BY bi.doc_id""".stripMargin),
    QueryDef("llm_feature_hashing", featureHashing,
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |             FROM documents WHERE doc_id < 30)
        |SELECT doc_id,
        |  CAST('0x' || substr(md5(term), 1, 4) AS BIGINT) % 32 AS bucket,
        |  COUNT(*) AS cnt
        |FROM tok GROUP BY 1, 2""".stripMargin),
    QueryDef("text_pii_mask", piiMask,
      """SELECT event_id,
        |  regexp_replace(
        |    regexp_replace(props, '[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+',
        |                   '<email>', 'g'),
        |    '[0-9]+', '<num>', 'g') AS masked_props,
        |  len(regexp_extract_all(props, '[0-9]+')) AS n_redacted
        |FROM events""".stripMargin),
    QueryDef("llm_stratified_split", stratifiedSplit,
      s"""WITH d AS (SELECT source, n_chars, $uSql AS u FROM documents)
         |SELECT source,
         |  CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
         |       ELSE 'test' END AS split,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM d GROUP BY 1, 2""".stripMargin),
    QueryDef("llm_vocab", vocab,
      """WITH tok AS (SELECT DISTINCT doc_id,
        |               unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |df AS (SELECT term, COUNT(*) AS df FROM tok GROUP BY 1),
        |r AS (SELECT term, df,
        |        CAST(ROW_NUMBER() OVER (ORDER BY df DESC, term) AS BIGINT) AS rank
        |      FROM df)
        |SELECT term, df, rank FROM r WHERE rank <= 40""".stripMargin),
    // the oracle joins on the shingle STRINGS; the engine joins on their
    // xxhash64 — equivalent counts absent 2^-64 collisions
    QueryDef("llm_decontaminate", decontaminate,
      s"""WITH d AS (SELECT doc_id, text, $uSql AS u FROM documents),
         |sp AS (SELECT doc_id,
         |         CASE WHEN u < 0.8 THEN 'train' WHEN u < 0.9 THEN 'val'
         |              ELSE 'test' END AS split,
         |         string_split(text, ' ') AS t
         |       FROM d),
         |sh AS (SELECT DISTINCT doc_id, split,
         |         unnest(list_transform(range(greatest(len(t) - 2, 0)),
         |                i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3])) AS sh
         |       FROM sp),
         |tr AS (SELECT DISTINCT sh FROM sh WHERE split = 'train')
         |SELECT s.doc_id, COUNT(*) AS n_overlap
         |FROM sh s JOIN tr ON s.sh = tr.sh
         |WHERE s.split = 'test'
         |GROUP BY s.doc_id""".stripMargin),
    QueryDef("llm_length_filter", lengthFilter,
      """WITH b AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
        |             quantile_cont(n_chars, 0.95) AS hi FROM documents)
        |SELECT source, (n_chars >= lo AND n_chars <= hi) AS keep,
        |  COUNT(*) AS n_docs
        |FROM documents CROSS JOIN b
        |GROUP BY 1, 2""".stripMargin),
    QueryDef("llm_dedup_stats", dedupStats, {
      val prefix = dedupClustersSql.substring(0,
        dedupClustersSql.indexOf("SELECT node AS doc_id"))
      prefix.trim + ",\n" +
        """dropped AS MATERIALIZED (SELECT node FROM reach GROUP BY node HAVING MIN(r) <> node)
          |SELECT d.source, COUNT(*) AS n_docs,
          |  CAST(SUM(CASE WHEN d.doc_id IN (SELECT node FROM dropped)
          |           THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
          |  CAST(SUM(CASE WHEN d.doc_id IN (SELECT node FROM dropped)
          |           THEN 0 ELSE 1 END) AS BIGINT) AS n_kept
          |FROM documents d GROUP BY d.source""".stripMargin
    }),
    QueryDef("llm_pipeline_e2e", pipelineE2e, {
      val prefix = dedupClustersSql.substring(0,
        dedupClustersSql.indexOf("SELECT node AS doc_id"))
      prefix.trim + ",\n" +
        s"""dropped AS MATERIALIZED (SELECT node FROM reach GROUP BY node HAVING MIN(r) <> node),
           |b AS (SELECT quantile_cont(n_chars, 0.05) AS lo,
           |        quantile_cont(n_chars, 0.95) AS hi FROM documents),
           |kept AS (SELECT doc_id, source,
           |           len(string_split(text, ' ')) AS n_tokens,
           |           CASE WHEN $uSql < 0.8 THEN 'train'
           |                WHEN $uSql < 0.9 THEN 'val'
           |                ELSE 'test' END AS split
           |         FROM documents CROSS JOIN b
           |         WHERE n_chars >= lo AND n_chars <= hi
           |           AND doc_id NOT IN (SELECT node FROM dropped))
           |SELECT source, split, COUNT(*) AS n_docs,
           |  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens
           |FROM kept GROUP BY source, split""".stripMargin
    }),
    QueryDef("text_repetition", textRepetition,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |sh AS (SELECT doc_id,
        |         list_transform(range(greatest(len(t) - 2, 0)),
        |           i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]) AS s
        |       FROM d)
        |SELECT doc_id, len(s) AS n_shingles,
        |  len(list_distinct(s)) AS n_distinct,
        |  CASE WHEN len(s) > 0
        |       THEN 1.0 - len(list_distinct(s)) / CAST(len(s) AS DOUBLE)
        |       ELSE 0.0 END AS rep_ratio
        |FROM sh""".stripMargin),
    QueryDef("llm_segment_dedup", segmentDedup,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        |b AS (SELECT doc_id, t, CAST(len(t) // 10 AS INT) AS n_full
        |      FROM d WHERE len(t) // 10 >= 1),
        |segs AS (SELECT doc_id,
        |           unnest(list_transform(range(n_full),
        |             i -> md5(array_to_string(t[i*10+1 : i*10+10], ' ')))) AS h
        |         FROM b),
        |freq AS (SELECT h, COUNT(DISTINCT doc_id) AS n_docs
        |         FROM segs GROUP BY h)
        |SELECT s.doc_id, COUNT(*) AS n_segments,
        |  CAST(SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_boilerplate,
        |  CAST((COUNT(*) - SUM(CASE WHEN f.n_docs >= 2 THEN 1 ELSE 0 END))
        |       * 10 AS BIGINT) AS tokens_kept
        |FROM segs s JOIN freq f USING (h)
        |GROUP BY s.doc_id""".stripMargin),
    QueryDef("llm_oov_rate", oovRate,
      """WITH tok AS (SELECT source, unnest(string_split(text, ' ')) AS term
        |             FROM documents),
        |bst AS (SELECT source, term, COUNT(*) AS c
        |        FROM tok GROUP BY source, term),
        |top AS (SELECT term FROM (
        |          SELECT term, SUM(c) AS tot,
        |            ROW_NUMBER() OVER (ORDER BY SUM(c) DESC, term) AS rk
        |          FROM bst GROUP BY term)
        |        WHERE rk <= 20)
        |SELECT source,
        |  CAST(SUM(c) AS BIGINT) AS n_tokens,
        |  CAST(SUM(CASE WHEN term IN (SELECT term FROM top) THEN c
        |           ELSE 0 END) AS BIGINT) AS n_covered,
        |  1.0 - SUM(CASE WHEN term IN (SELECT term FROM top) THEN c
        |            ELSE 0 END) / CAST(SUM(c) AS DOUBLE) AS oov_rate
        |FROM bst
        |GROUP BY source""".stripMargin),
    QueryDef("llm_incremental_dedup", incrementalDedup,
      s"""WITH $shingleCte,
         |side AS (SELECT doc_id, CAST(SUBSTR(source, 4) AS INT) < 10 AS ex
         |         FROM documents),
         |norm AS (SELECT doc_id,
         |           md5(lower(trim(regexp_replace(text, '\\s+', ' ', 'g')))) AS h
         |         FROM documents),
         |exdrop AS (SELECT n.doc_id FROM norm n JOIN side s USING (doc_id)
         |           WHERE NOT s.ex AND n.h IN
         |             (SELECT h FROM norm JOIN side USING (doc_id) WHERE ex)),
         |bands AS (SELECT doc_id, unnest(range(8)) AS band, sh FROM sh),
         |sigs AS (SELECT doc_id, band,
         |           MIN(substr(CASE WHEN band < 4 THEN md5(sh) ELSE md5(sh || '#') END,
         |                      CAST((band % 4) * 8 + 1 AS INT), 8)) AS sig
         |         FROM bands GROUP BY doc_id, band),
         |insigs AS (SELECT g.doc_id, band, sig FROM sigs g JOIN side s USING (doc_id)
         |           WHERE NOT s.ex
         |             AND g.doc_id NOT IN (SELECT doc_id FROM exdrop)),
         |exsigs AS (SELECT g.doc_id, band, sig FROM sigs g JOIN side s USING (doc_id)
         |           WHERE s.ex),
         |cands AS (SELECT DISTINCT i.doc_id AS doc_a, e.doc_id AS doc_b
         |          FROM insigs i JOIN exsigs e
         |            ON i.band = e.band AND i.sig = e.sig),
         |sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
         |inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
         |          FROM cands c
         |          JOIN sh a ON a.doc_id = c.doc_a
         |          JOIN sh b ON b.doc_id = c.doc_b AND a.sh = b.sh
         |          GROUP BY c.doc_a, c.doc_b),
         |near AS (SELECT DISTINCT i.doc_a AS doc_id
         |         FROM inter i JOIN sizes za ON i.doc_a = za.doc_id
         |         JOIN sizes zb ON i.doc_b = zb.doc_id
         |         WHERE i.n_inter
         |           / CAST(za.n_sh + zb.n_sh - i.n_inter AS DOUBLE) >= 0.5)
         |SELECT source, COUNT(*) AS n_in,
         |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM exdrop)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_dup,
         |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM near)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_near_dup,
         |  CAST(SUM(CASE WHEN doc_id NOT IN (SELECT doc_id FROM exdrop)
         |                 AND doc_id NOT IN (SELECT doc_id FROM near)
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
         |FROM documents JOIN side USING (doc_id)
         |WHERE NOT ex GROUP BY source""".stripMargin),
    QueryDef("llm_train_shards", trainShards,
      """WITH d AS (SELECT CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
        |                  AS BIGINT) % 16 AS shard,
        |             len(string_split(text, ' ')) AS n_tokens
        |           FROM documents),
        |ps AS (SELECT shard, COUNT(*) AS n_docs,
        |         CAST(SUM(n_tokens) AS BIGINT) AS shard_tokens
        |       FROM d GROUP BY shard),
        |m AS (SELECT SUM(shard_tokens) / CAST(COUNT(*) AS DOUBLE) AS mean_tokens
        |      FROM ps)
        |SELECT shard, n_docs, shard_tokens,
        |  shard_tokens / mean_tokens AS skew
        |FROM ps CROSS JOIN m""".stripMargin),
    QueryDef("llm_seq_pack", seqPack,
      """WITH d AS (SELECT doc_id, source,
        |             len(string_split(text, ' ')) AS n_tokens FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |        COALESCE(SUM(n_tokens) OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |          AS tokens_before
        |      FROM d)
        |SELECT source, CAST(FLOOR(tokens_before / 2048) AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS pack_tokens
        |FROM c GROUP BY 1, 2""".stripMargin),
    QueryDef("llm_weighted_sample", weightedSample,
      s"""WITH u AS (SELECT doc_id, source, n_chars, $uSql AS u FROM documents),
         |k AS (SELECT source, doc_id, pow(u, 1.0 / n_chars) AS skey,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY pow(u, 1.0 / n_chars) DESC, doc_id) AS BIGINT) AS rnk
         |      FROM u)
         |SELECT source, rnk, doc_id, ROUND(skey, 6) AS skey
         |FROM k WHERE rnk <= 5""".stripMargin),
    QueryDef("llm_corpus_mix", corpusMix,
      """WITH tw AS (SELECT SUM(CASE WHEN source = 'src0' THEN 2.0 ELSE 1.0 END) AS total_w
        |            FROM (SELECT DISTINCT source FROM documents)),
        |d AS (SELECT doc_id, source, len(string_split(text, ' ')) AS n_tokens
        |      FROM documents),
        |c AS (SELECT doc_id, source, n_tokens,
        |        SUM(n_tokens) OVER (PARTITION BY source
        |          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
        |          ROWS UNBOUNDED PRECEDING) AS cum_tokens
        |      FROM d)
        |SELECT source, COUNT(*) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS tokens_used
        |FROM c CROSS JOIN tw
        |WHERE cum_tokens <= 20000.0 * (CASE WHEN source = 'src0' THEN 2.0 ELSE 1.0 END) / total_w
        |GROUP BY source""".stripMargin),
    QueryDef("text_tokens", textTokens,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |  len(regexp_extract_all(text, '[a-z]+')) AS n_alpha_tokens,
        |  length(text) AS n_chars,
        |  (length(text) - len(string_split(text, ' ')) + 1)
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len
        |FROM documents""".stripMargin),
    QueryDef("text_quality", textQuality,
      """SELECT doc_id,
        |  len(string_split(text, ' ')) AS n_tokens,
        |  len(list_distinct(string_split(text, ' ')))
        |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS ttr,
        |  length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |    / CAST(length(text) AS DOUBLE) AS punct_ratio,
        |  least(1.0, len(string_split(text, ' ')) / 50.0) * 0.5
        |    + (len(list_distinct(string_split(text, ' ')))
        |       / CAST(len(string_split(text, ' ')) AS DOUBLE)) * 0.5
        |    - (length(regexp_replace(text, '[^.,;:!?]', '', 'g'))
        |       / CAST(length(text) AS DOUBLE)) * 0.25 AS quality
        |FROM documents""".stripMargin),
    QueryDef("text_langid", textLangid, {
      def inList(xs: Seq[String]) = xs.map("'" + _ + "'").mkString(", ")
      s"""WITH d AS (SELECT doc_id, lang, string_split(text, ' ') AS t FROM documents),
         |h AS (SELECT doc_id, lang,
         |  len(list_filter(t, x -> x IN (${inList(enMarkers)}))) AS en_hits,
         |  len(list_filter(t, x -> x IN (${inList(esMarkers)}))) AS es_hits,
         |  len(list_filter(t, x -> x IN (${inList(deMarkers)}))) AS de_hits
         |  FROM d)
         |SELECT doc_id, lang AS labeled_lang, en_hits, es_hits, de_hits,
         |  CASE WHEN en_hits + es_hits + de_hits = 0 THEN 'und'
         |       WHEN en_hits >= es_hits AND en_hits >= de_hits THEN 'en'
         |       WHEN es_hits >= de_hits THEN 'es'
         |       ELSE 'de' END AS pred_lang
         |FROM h""".stripMargin
    }),
    QueryDef("text_fingerprint", textFingerprint,
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents)
        |SELECT doc_id,
        |  md5(array_to_string(list_sort(list_distinct(t)), ' ')) AS content_md5,
        |  list_min(list_transform(
        |    list_transform(range(greatest(len(t) - 2, 0)),
        |                   i -> t[i+1] || ' ' || t[i+2] || ' ' || t[i+3]),
        |    sh -> md5(sh))) AS min_shingle_md5
        |FROM d""".stripMargin),
    QueryDef("llm_cross_source_overlap", crossSourceOverlap,
      s"""WITH $shingleCte,
         |$minhashPairCtes,
         |j AS (SELECT least(da.source, db.source) AS source_a,
         |        greatest(da.source, db.source) AS source_b, p.jaccard
         |      FROM pairs p
         |      JOIN documents da ON da.doc_id = p.doc_a
         |      JOIN documents db ON db.doc_id = p.doc_b)
         |SELECT source_a, source_b, COUNT(*) AS n_pairs,
         |  ROUND(AVG(jaccard), 6) AS mean_jaccard
         |FROM j GROUP BY source_a, source_b""".stripMargin),
    QueryDef("llm_contrastive_pairs", contrastivePairs,
      s"""WITH $shingleCte,
         |$minhashPairCtes,
         |bo AS (SELECT doc_a AS anchor, doc_b AS partner, jaccard
         |       FROM pairs
         |       UNION ALL
         |       SELECT doc_b, doc_a, jaccard FROM pairs),
         |pos AS (SELECT anchor, partner AS positive, jaccard AS jaccard_pos,
         |          row_number() OVER (PARTITION BY anchor
         |            ORDER BY jaccard DESC, partner) AS rn
         |        FROM bo),
         |p1 AS (SELECT anchor, positive, jaccard_pos FROM pos WHERE rn = 1),
         |cand AS (SELECT doc_id AS cand FROM documents WHERE doc_id < 64),
         |negc AS (SELECT p.anchor, c.cand,
         |           md5(CAST(p.anchor AS VARCHAR) || ':' ||
         |               CAST(c.cand AS VARCHAR)) AS h
         |         FROM p1 p CROSS JOIN cand c
         |         WHERE c.cand <> p.anchor
         |           AND NOT EXISTS (SELECT 1 FROM bo b
         |             WHERE b.anchor = p.anchor AND b.partner = c.cand)),
         |neg AS (SELECT anchor, cand AS negative,
         |          row_number() OVER (PARTITION BY anchor
         |            ORDER BY h, cand) AS rn
         |        FROM negc)
         |SELECT p1.anchor, p1.positive, n.negative, p1.jaccard_pos
         |FROM p1 JOIN neg n ON n.anchor = p1.anchor AND n.rn = 1""".stripMargin))
}
