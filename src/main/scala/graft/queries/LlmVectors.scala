package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

import graft.QueryDef
import graft.core.Tables
import graft.plans.GraftFunctions
import graft.core.CkptTap._

/** Similarity search over the `embeddings` table using the native
  * codegen'd [[graft.plans.CosineSimilarity]] expression.
  *
  * Scale shapes:
  *  - brute-force top-k broadcasts the (small) query set against the
  *    corpus — the right baseline when queries ≪ corpus;
  *  - the LSH variant buckets by sign bits (axis-aligned random
  *    hyperplanes) so candidate generation is an equi-join on the
  *    bucket id — the shape that survives a corpus 1000× larger, at
  *    the cost of recall (deterministic here, so oracle-checkable);
  *  - near-dup pairing joins within buckets only, never all-pairs.
  */
object LlmVectors {

  /** Wall seconds of the most recent PQ codebook train+materialize
    * (the eager checkpoint inside [[annPq]]); -1 until a train ran in
    * this JVM. The bench emits it as `pq_train_s` in bench_detail's
    * env stanza so growth in `llm_ann_pq` (18.9 s at sf1 in r15) is
    * attributable to codebook training vs the encode+probe without a
    * separate profiling run. */
  @volatile private var pqTrainSec: Double = -1.0
  def pqTrainSeconds: Double = pqTrainSec

  private def emb(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "embeddings")

  private def cos(a: Column, b: Column): Column =
    GraftFunctions.cosineSim(a, b)

  /** Sign-bit LSH bucket from the first 4 dimensions (16 buckets) —
    * the QUERY-side key (10 broadcast queries probe their bucket);
    * fixed width is fine there because the query side never grows.
    * Corpus-side self-joins use the DIALED keys below instead. */
  private def bucket(v: Column): Column =
    (0 until 4).map(j =>
      when(get(v, lit(j)) > 0f, lit(1 << j)).otherwise(lit(0)))
      .reduce(_ + _)

  /** Corpus-size dials for the self-join block keys, as integer
    * threshold ladders (exact on both engines — no log2/ceil float
    * boundary can flip a bucket count between Spark and DuckDB). One
    * more bit per corpus doubling keeps expected occupancy n/2^bits
    * O(1), which is what turns the blocked self-join's Σ n_b² from
    * quadratic to ~linear: the r12 sf1 bench measured the FIXED-block
    * versions at 21× (embed_neardup) and 14× (semdedup) on 10× data.
    * The same ladder text is emitted into the DuckDB oracle, so both
    * engines always block identically. */
  private[graft] def ladderCount(n: Long, base: Long, steps: Int): Int =
    (0 until steps).count(j => n > (base << j))

  private[graft] def ladderSql(nCol: String, base: Long, steps: Int): String =
    (0 until steps)
      .map(j => s"CASE WHEN $nCol > ${base << j} THEN 1 ELSE 0 END")
      .mkString(" + ")

  /** Band width for the banded sign-LSH: 4 bits at ≤512 rows, +1 per
    * doubling, capped at the 16-dim stripe width. Past ~2M rows the
    * cap saturates — the next dial is MORE bands (stripes of the
    * remaining dims) or multi-probe, same trade as minhash band/row
    * splits. */
  private[graft] def signBandBits(n: Long): Int =
    math.min(16, 4 + ladderCount(n, 512L, 12))

  /** SemDeDup sub-cell bits: 0 at ≤1000 rows (pure label blocks), +1
    * per doubling. The sign hypercube is a deterministic stand-in for
    * the k-means coarse quantizer (k = 2^bits ∝ n) a production
    * SemDeDup trains — [[kmeansTrain]] is the trained variant; the
    * hypercube keeps the oracle a pure SQL twin. */
  private[graft] def cellBits(n: Long): Int = ladderCount(n, 1000L, 24)

  /** Per-vector (band, value) keys: 4 bands, band j = `w` sign bits of
    * dims [16j, 16j+w). Pairs agreeing on ANY band become candidates
    * (minhash-LSH OR-semantics — recall degrades gracefully as w
    * grows, instead of collapsing the way a single wider key would). */
  private[graft] def signBands(e: DataFrame, w: Int): DataFrame = {
    def bv(j: Int): Column = (0 until w).map(b =>
      when(get(col("embedding"), lit(j * 16 + b)) > 0f, lit(1L << b))
        .otherwise(lit(0L))).reduce(_ + _)
    e.select(col("vec_id"),
      explode(array((0 until 4).map(j =>
        struct(lit(j).as("band"), bv(j).as("bv"))): _*)).as("s"))
      .select(col("vec_id"), col("s.band").as("band"), col("s.bv").as("bv"))
  }

  /** Brute-force cosine top-5 for the first 10 vectors as queries. */
  def cosineTopk(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("q_id").orderBy(col("sim_raw").desc, col("vec_id"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cos(col("q_emb"), col("embedding")).as("sim_raw"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("q_id"), col("rnk"), col("vec_id"),
        round(col("sim_raw"), 4).as("sim"))
  }

  /** LSH-bucketed approximate top-3: candidates share the query's sign
    * bucket; recall < 1 by construction, deterministically. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), col("embedding"), bucket(col("embedding")).as("bkt"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        col("bkt").as("q_bkt"))
    val w = Window.partitionBy("q_id").orderBy(col("sim_raw").desc, col("vec_id"))
    e.join(broadcast(q), col("bkt") === col("q_bkt")
        && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cos(col("q_emb"), col("embedding")).as("sim_raw"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("vec_id"),
        round(col("sim_raw"), 4).as("sim"))
  }

  /** Embedding near-duplicate pairs: banded sign-LSH candidates
    * (4 bands × [[signBandBits]]-dialed width, OR-semantics, DISTINCT
    * pairs) verified by exact cosine ≥ 0.42. The r12 shape — all-pairs
    * within 16 FIXED sign buckets — was O(n²/16) and measured 21× on
    * 10× data; the dial adds one band bit per corpus doubling so
    * candidate mass stays ~linear. Only (id, band, value) triples
    * shuffle for candidate generation; embeddings join back by id for
    * the verify, exactly like `llm_minhash_neardup`. */
  def embedNearDup(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir).select(col("vec_id"), col("embedding"))
    val w = signBandBits(e.count())
    val bands = signBands(e, w)
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      .distinct()
    cand
      .join(e.select(col("vec_id").as("vec_a"), col("embedding").as("ea")),
        "vec_a")
      .join(e.select(col("vec_id").as("vec_b"), col("embedding").as("eb")),
        "vec_b")
      .select(col("vec_a"), col("vec_b"),
        cos(col("ea"), col("eb")).as("sim_raw"))
      .filter(col("sim_raw") >= 0.42)
      .select(col("vec_a"), col("vec_b"), round(col("sim_raw"), 4).as("sim"))
  }

  /** Double-precision higher-order cosine — used only where one side
    * isn't a float array (e.g. computed centroids). */
  private def dcos(a: Column, b: Column): Column = {
    def dot(x: Column, y: Column): Column =
      // native codegen dot (same left-to-right fold as the HOF form,
      // bit-identical; see plans.DotProductDouble) — the HOF spelling
      // is CodegenFallback and allocates lambda frames per element
      call_function("dot_product_d",
        x.cast("array<double>"), y.cast("array<double>"))
    dot(a, b) / sqrt(dot(a, a) * dot(b, b))
  }

  /** IVF-style ANN: coarse quantizer = per-label centroid (exact
    * decimal sums for oracle parity), probe = the single nearest
    * centroid, fine search only within that partition. The scale shape:
    * the corpus is range/bucket-partitioned by list id, a query touches
    * 1/nlist of the data, and the centroid table is broadcast-sized. */
  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfProbes(s, dir, nprobe = 1)

  /** nprobe=2: the standard recall knob — fine search covers the TWO
    * nearest coarse partitions, trading 2× scanned fraction for recall
    * on queries near a partition boundary. */
  def annIvf2(s: SparkSession, dir: String): DataFrame =
    annIvfProbes(s, dir, nprobe = 2)

  private def annIvfProbes(s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    val e = emb(s, dir)
    val flat = e.select(col("label"),
      posexplode(col("embedding")).as(Seq("pos", "v")))
    val cent = flat.groupBy("label", "pos")
      .agg((sum(col("v").cast(DecimalType(20, 8))).cast("double")
        / count(lit(1))).as("c"))
    val centArr = cent.groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
      .select(col("label").as("c_label"),
        expr("transform(pc, x -> x.c)").as("centroid"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"),
        col("embedding").as("q_emb"),
        col("embedding").cast("array<double>").as("qv"))
    val wAssign = Window.partitionBy("q_id")
      .orderBy(col("c_sim").desc, col("c_label"))
    val probes = q.crossJoin(broadcast(centArr))
      .select(col("q_id"), col("q_emb"), col("c_label"),
        dcos(col("qv"), col("centroid")).as("c_sim"))
      .withColumn("rn", row_number().over(wAssign))
      .filter(col("rn") <= nprobe)
      .select(col("q_id"), col("q_emb"), col("c_label").as("probe_label"))
    val wTop = Window.partitionBy("q_id").orderBy(col("sim_raw").desc, col("vec_id"))
    e.join(broadcast(probes),
        col("label") === col("probe_label") && col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"),
        cos(col("q_emb"), col("embedding")).as("sim_raw"))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("vec_id"),
        round(col("sim_raw"), 4).as("sim"))
  }

  /** Native dot_product (SQL-registered) vs the higher-order-function
    * formulation — both columns must agree exactly, pinning the custom
    * expression against Spark's own fold semantics. */
  def vectorNorms(s: SparkSession, dir: String): DataFrame =
    emb(s, dir).select(
      col("vec_id"),
      round(GraftFunctions.dotProduct(col("embedding"), col("embedding")), 6)
        .as("norm2_native"),
      round(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double")), 6)
        .as("norm2_hof"))

  /** IVF coarse-quantizer TRAINING: Lloyd's k-means, k=8, two unrolled
    * iterations, seeded deterministically with vectors 0..7. Distances
    * use the inner-product expansion ‖x−c‖² = ⟨x,x⟩ − 2⟨x,c⟩ + ⟨c,c⟩ so
    * both engines fold the same sequential sums; centroid recomputes
    * pin per-dimension means through DECIMAL(20,8) like the serving
    * path. Assignment shuffles nothing (centroids broadcast); the
    * recompute is one posexplode + aggregation per iteration. */
  def kmeansTrain(s: SparkSession, dir: String): DataFrame = {
    val e = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    def dot(x: Column, y: Column): Column =
      // native codegen dot (same left-to-right fold as the HOF form,
      // bit-identical; see plans.DotProductDouble) — the HOF spelling
      // is CodegenFallback and allocates lambda frames per element
      call_function("dot_product_d",
        x.cast("array<double>"), y.cast("array<double>"))
    def assign(cent: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id")
        .orderBy(col("dist").asc, col("cid").asc)
      e.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("v"), col("cid"),
          (dot(col("v"), col("v")) - lit(2.0) * dot(col("v"), col("c"))
            + dot(col("c"), col("c"))).as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("v"), col("cid"))
    }
    def recompute(assigned: DataFrame): DataFrame =
      assigned
        .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cid", "pos")
        .agg((sum(col("x").cast(DecimalType(20, 8))).cast("double")
          / count(lit(1))).as("c"))
        .groupBy("cid")
        .agg(array_sort(collect_list(struct(col("pos"), col("c")))).as("pc"))
        .select(col("cid"), expr("transform(pc, p -> p.c)").as("c"))
    val cent0 = e.filter(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("v").as("c"))
    val cent1 = recompute(assign(cent0))
    val assigned2 = assign(cent1)
    assigned2.groupBy("cid")
      .agg(count(lit(1)).as("n_members"))
      .join(recompute(assigned2).select(col("cid"),
        // c0 raw: decimal-sum/count quotient, bit-identical both engines
        element_at(col("c"), 1).as("c0")), Seq("cid"))
  }

  /** Product-quantization ANN: each 64-dim vector splits into M=4
    * 16-dim subvectors; each subspace trains its OWN k=16 codebook
    * (seeded with vectors 0..15's subvectors, one Lloyd refinement —
    * the same deterministic recipe as [[kmeansTrain]]); a vector's
    * code is its 4 nearest-codeword ids. Queries score by ASYMMETRIC
    * distance: per (query, subspace, codeword) distances form a tiny
    * broadcast LUT and a candidate's distance is the SUM of 4 lookups
    * — no full-vector math ever touches the corpus at query time.
    *
    * Scale: the corpus-side table is the CODES (4 small ints per
    * vector, ~32× smaller than the float vectors); scoring is a
    * broadcast hash join on (m, cid) plus a 4-row-per-pair sum — the
    * memory-bound shape real PQ serving uses. Lookup distances are
    * decimal-pinned before the per-pair sum so the 4-way addition is
    * order-free for the oracle. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val M = 4; val sd = 16; val k = 16
    val e = emb(s, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val subs = e.select(col("vec_id"),
      posexplode(array((0 until M).map(m => slice(col("v"), m * sd + 1, sd)): _*))
        .as(Seq("m", "sub")))
    def dot(x: Column, y: Column): Column =
      // native codegen dot (same left-to-right fold as the HOF form,
      // bit-identical; see plans.DotProductDouble) — the HOF spelling
      // is CodegenFallback and allocates lambda frames per element
      call_function("dot_product_d",
        x.cast("array<double>"), y.cast("array<double>"))
    def l2(x: Column, c: Column): Column =
      dot(x, x) - lit(2.0) * dot(x, c) + dot(c, c)
    val seeds = subs.filter(col("vec_id") < k)
      .select(col("m"), col("vec_id").cast("int").as("cid"), col("sub").as("c"))
    def assign(cb: DataFrame): DataFrame = {
      val w = Window.partitionBy("vec_id", "m")
        .orderBy(col("dist").asc, col("cid").asc)
      subs.join(broadcast(cb), Seq("m"))
        .select(col("vec_id"), col("m"), col("sub"), col("cid"),
          l2(col("sub"), col("c")).as("dist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("sub"), col("cid"))
    }
    // The trained codebook (M*k = 64 rows) feeds BOTH the corpus encode
    // and the query LUT — materialize it once or the whole train
    // pipeline (scan + explode + assign + recompute) runs per consumer.
    val tTrain = System.nanoTime()
    val codebook = assign(seeds)
      .select(col("m"), col("cid"), posexplode(col("sub")).as(Seq("pos", "x")))
      .groupBy("m", "cid", "pos")
      .agg((sum(col("x").cast(DecimalType(20, 8))).cast("double")
        / count(lit(1))).as("cc"))
      .groupBy("m", "cid")
      .agg(array_sort(collect_list(struct(col("pos"), col("cc")))).as("pc"))
      .select(col("m"), col("cid"), expr("transform(pc, p -> p.cc)").as("c"))
      .tappedLocalCheckpoint()
    pqTrainSec = (System.nanoTime() - tTrain) / 1e9
    val codes = assign(codebook).select(col("vec_id"), col("m"), col("cid"))
    val qsubs = subs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("m"), col("sub").as("qsub"))
    val lut = qsubs.join(broadcast(codebook), Seq("m"))
      .select(col("q_id"), col("m"), col("cid"),
        l2(col("qsub"), col("c")).cast(DecimalType(18, 9)).as("d"))
    val wTop = Window.partitionBy("q_id").orderBy(col("adist").asc, col("vec_id"))
    codes.join(broadcast(lut), Seq("m", "cid"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("d")).cast("double").as("adist"))
      .withColumn("rnk", row_number().over(wTop).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("vec_id"),
        // Raw: adist is a 4-term DECIMAL(18,9) sum cast to double —
        // exact rational, bit-identical; per-engine round(4) can flip.
        col("adist"))
  }

  /** Recall evaluation of the approximate indexes against brute force:
    * |approx ∩ exact top-3| / |exact top-3| per method — the metric a
    * similarity-search deployment actually tracks. Composes the
    * existing query pipelines; counts flow through tiny aggregates
    * (no driver-side collection). */
  def annRecall(s: SparkSession, dir: String): DataFrame = {
    val exact = cosineTopk(s, dir).filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id"))
    def eval(method: String, approx: DataFrame): DataFrame = {
      val hits = exact
        .join(approx.select("q_id", "vec_id"), Seq("q_id", "vec_id"),
          "left_semi")
        .agg(count(lit(1)).as("n_hits"))
      val total = exact.agg(count(lit(1)).as("n_exact"))
      hits.crossJoin(total).select(
        lit(method).as("method"), col("n_hits"), col("n_exact"),
        (col("n_hits") / col("n_exact").cast("double")).as("recall"))
    }
    eval("lsh", annLsh(s, dir))
      .unionByName(eval("ivf", annIvf(s, dir)))
  }

  /** NDCG@3 of the LSH index's ranking against the exact cosine
    * ranking, per query: graded relevance 4−exact_rank for the exact
    * top-3 (3/2/1), zero otherwise; DCG discounts by log2(position+1)
    * over the LSH top-3; IDCG is the constant perfect-ordering sum.
    * Recall (llm_ann_recall) says how much of the truth the index
    * finds; NDCG says whether it ORDERS what it finds correctly.
    * Gains stay integer; the ≤3-term discounted sum and the final
    * ratio are the only floating steps (ulp-level engine drift,
    * absorbed by canonicalization). */
  def annNdcg(s: SparkSession, dir: String): DataFrame = {
    val idcg = expr("3.0D / log2(2.0D) + 2.0D / log2(3.0D) + 1.0D / log2(4.0D)")
    val rel = cosineTopk(s, dir).filter(col("rnk") <= 3)
      .select(col("q_id"), col("vec_id"), (lit(4L) - col("rnk")).as("rel"))
    val dcg = annLsh(s, dir).select(col("q_id"), col("vec_id"), col("rnk"))
      .join(rel, Seq("q_id", "vec_id"))
      .groupBy("q_id")
      .agg(sum(col("rel") / log2(col("rnk") + lit(1L))).as("dcg_raw"))
    emb(s, dir).filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))
      .join(dcg, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("dcg_raw"), lit(0.0)).as("dcg"),
        idcg.as("idcg"),
        (coalesce(col("dcg_raw"), lit(0.0)) / idcg).as("ndcg"))
  }

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09; k=60) of the
    * LSH and IVF rankings: score(v) = Σ_m 1/(60 + rank_m(v)) over the
    * two approximate indexes, re-ranked to a fused top-3 per query —
    * the standard way a retrieval stack combines heterogeneous
    * rankers without score calibration. Scores are fixed two-term
    * expressions over integer ranks (not aggregations), so the fused
    * order is engine-identical; ties break on vec_id. */
  def annRankFusion(s: SparkSession, dir: String): DataFrame = {
    val lsh = annLsh(s, dir).select(col("q_id"), col("vec_id"), col("rnk").as("lr"))
    val ivf = annIvf(s, dir).select(col("q_id"), col("vec_id"), col("rnk").as("ir"))
    val fused = lsh.join(ivf, Seq("q_id", "vec_id"), "full_outer")
      .select(col("q_id"), col("vec_id"),
        (coalesce(lit(1.0) / (lit(60.0) + col("lr")), lit(0.0))
          + coalesce(lit(1.0) / (lit(60.0) + col("ir")), lit(0.0))).as("rrf_score"))
    val w = Window.partitionBy("q_id").orderBy(col("rrf_score").desc, col("vec_id"))
    fused.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 3)
      .select(col("q_id"), col("rnk"), col("vec_id"), col("rrf_score"))
  }

  /** SemDeDup-shaped semantic dedup: near-dup cosine pairs are only
    * sought WITHIN a semantic block, then each `label` reports
    * members, duplicate pairs, and the prune count under the
    * deterministic "drop the higher vec_id of every pair" policy.
    *
    * Scale: blocking makes the pair mass Σ n_b², which is only
    * sub-quadratic if the BLOCK COUNT GROWS with the corpus — real
    * SemDeDup scales its k-means k with n. The r12 block key (`label`
    * alone, fixed cardinality) measured 14× on 10× data; the block is
    * now (label × sign-hypercube cell) with [[cellBits]] adding one
    * cell bit per corpus doubling — a deterministic coarse quantizer
    * with k ∝ n (the trained variant is [[kmeansTrain]]; the hypercube
    * keeps the DuckDB twin exact). Pair counts stay per-label in the
    * output; cells only bound the search. */
  def semDedup(s: SparkSession, dir: String): DataFrame = {
    val e0 = emb(s, dir).select(col("vec_id"), col("label"), col("embedding"))
    val cb = cellBits(e0.count())
    val cellCol: Column =
      if (cb == 0) lit(0L)
      else (0 until cb).map(b =>
        when(get(col("embedding"), lit(b)) > 0f, lit(1L << b))
          .otherwise(lit(0L))).reduce(_ + _)
    val e = e0.withColumn("cell", cellCol)
    val pairs = e.as("a")
      .join(e.as("b"), col("a.label") === col("b.label")
        && col("a.cell") === col("b.cell")
        && col("a.vec_id") < col("b.vec_id"))
      .select(col("a.label").as("label"), col("b.vec_id").as("vec_b"),
        cos(col("a.embedding"), col("b.embedding")).as("sim"))
      .filter(col("sim") >= 0.35)
    e.groupBy("label").agg(count(lit(1)).as("n_members"))
      .join(pairs.groupBy("label").agg(count(lit(1)).as("pair_cnt")),
        Seq("label"), "left")
      .join(pairs.select("label", "vec_b").distinct()
        .groupBy("label").agg(count(lit(1)).as("pruned_cnt")),
        Seq("label"), "left")
      .select(col("label"),
        col("n_members"),
        coalesce(col("pair_cnt"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("pruned_cnt"), lit(0L)).as("n_pruned"))
  }

  /** Per-dimension standardization statistics (the fit half of a
    * StandardScaler), per label, over the first 8 dimensions: decimal
    * sums of x and x² make the cross-row accumulation exact and
    * order-free (float sums diverge between engines), then one double
    * division per (label, dim). At 100 TB this is one map-side-combined
    * pass; the fitted (mean, std) table is tiny and broadcasts back for
    * the transform half. Variance clamps at 0 before the sqrt — float
    * rounding can push E[x²]−mean² a hair negative. */
  def featureStandardize(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.load(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .filter(col("pos") < 8)
      .select(col("label"), col("pos").cast("long").as("pos"),
        col("x").cast("double").as("x"))
    val st = p.groupBy("label", "pos").agg(
      count(lit(1)).as("n"),
      sum(col("x").cast(DecimalType(18, 9))).cast("double").as("sx"),
      sum((col("x") * col("x")).cast(DecimalType(18, 9))).cast("double")
        .as("sxx"))
    // mean/std emitted RAW: decimal-exact sums → every downstream op
    // (+,-,*,/,sqrt) is IEEE-exact and bit-identical on both engines;
    // a per-engine round(6) flips on boundary-terminating rationals.
    st.select(col("label"), col("pos"), col("n"),
      (col("sx") / col("n")).as("mean"),
      sqrt(greatest(
        col("sxx") / col("n") - (col("sx") / col("n")) * (col("sx") / col("n")),
        lit(0.0))).as("std"))
  }

  // DuckDB twins compute cosine over DOUBLE[] casts so both engines
  // accumulate float inputs in double precision, in the same order.
  private val eCte =
    """e AS (SELECT vec_id, embedding,
      |        CAST(embedding AS DOUBLE[]) AS v,
      |        (CASE WHEN embedding[1] > 0 THEN 1 ELSE 0 END)
      |        + (CASE WHEN embedding[2] > 0 THEN 2 ELSE 0 END)
      |        + (CASE WHEN embedding[3] > 0 THEN 4 ELSE 0 END)
      |        + (CASE WHEN embedding[4] > 0 THEN 8 ELSE 0 END) AS bkt
      |      FROM embeddings)""".stripMargin

  private val cosSql =
    "list_inner_product(%s, %s) / sqrt(list_inner_product(%s, %s) * list_inner_product(%s, %s))"

  private def ivfSql(nprobe: Int): String =
    s"""WITH flat AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
       |               unnest(embedding) AS v FROM embeddings),
       |cent AS (SELECT label, pos,
       |           CAST(SUM(CAST(v AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
       |         FROM flat GROUP BY label, pos),
       |centarr AS (SELECT label AS c_label, list(c ORDER BY pos) AS centroid
       |            FROM cent GROUP BY label),
       |q AS (SELECT vec_id AS q_id, CAST(embedding AS DOUBLE[]) AS qv
       |      FROM embeddings WHERE vec_id < 10),
       |assign AS (SELECT q_id, qv, c_label,
       |             ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
       |               list_inner_product(qv, centroid)
       |                 / sqrt(list_inner_product(qv, qv)
       |                        * list_inner_product(centroid, centroid)) DESC,
       |               c_label) AS rn
       |           FROM q CROSS JOIN centarr),
       |probes AS (SELECT q_id, qv, c_label AS probe_label FROM assign
       |           WHERE rn <= $nprobe),
       |e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |s AS (SELECT p.q_id, e.vec_id,
       |        list_inner_product(p.qv, e.v)
       |          / sqrt(list_inner_product(p.qv, p.qv)
       |                 * list_inner_product(e.v, e.v)) AS sim_raw
       |      FROM probes p JOIN e ON e.label = p.probe_label
       |       AND e.vec_id <> p.q_id),
       |r AS (SELECT q_id, vec_id, sim_raw,
       |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
       |             ORDER BY sim_raw DESC, vec_id) AS BIGINT) AS rnk
       |      FROM s)
       |SELECT q_id, rnk, vec_id, ROUND(sim_raw, 4) AS sim
       |FROM r WHERE rnk <= 3""".stripMargin

  private val l2Sql =
    "list_inner_product(%s, %s) - 2 * list_inner_product(%s, %s) + list_inner_product(%s, %s)"

  val queries: Seq[QueryDef] = Seq(
    QueryDef("llm_feature_standardize", featureStandardize,
      """WITH p AS (SELECT label, pos, CAST(embedding[pos + 1] AS DOUBLE) AS x
        |           FROM embeddings,
        |                (SELECT CAST(unnest(range(8)) AS BIGINT) AS pos)),
        |st AS (SELECT label, pos, COUNT(*) AS n,
        |         CAST(SUM(CAST(x AS DECIMAL(18,9))) AS DOUBLE) AS sx,
        |         CAST(SUM(CAST(x*x AS DECIMAL(18,9))) AS DOUBLE) AS sxx
        |       FROM p GROUP BY 1, 2)
        |SELECT label, pos, n, sx/n AS mean,
        |  sqrt(GREATEST(sxx/n - (sx/n)*(sx/n), 0.0)) AS std
        |FROM st""".stripMargin),
    QueryDef("llm_semdedup", semDedup,
      s"""WITH dial AS (SELECT ${ladderSql("COUNT(*)", 1000L, 24)} AS cb
         |              FROM embeddings),
         |e0 AS (SELECT vec_id, label, embedding,
         |         CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bits AS (SELECT e0.vec_id, j.j,
         |           CASE WHEN j.j >= 0 AND e0.embedding[j.j + 1] > 0
         |                THEN (CAST(1 AS BIGINT) << j.j) ELSE 0 END AS bit
         |         FROM e0 CROSS JOIN
         |           (SELECT unnest(range(-1, (SELECT cb FROM dial))) AS j) j),
         |cells AS (SELECT vec_id, CAST(SUM(bit) AS BIGINT) AS cell
         |          FROM bits GROUP BY 1),
         |e AS (SELECT e0.vec_id, e0.label, e0.v, cells.cell
         |      FROM e0 JOIN cells USING (vec_id)),
         |p AS (SELECT a.label, b.vec_id AS vec_b
         |      FROM e a JOIN e b ON a.label = b.label AND a.cell = b.cell
         |        AND a.vec_id < b.vec_id
         |      WHERE ${cosSql.format("a.v", "b.v", "a.v", "a.v", "b.v", "b.v")} >= 0.35),
         |m AS (SELECT label, COUNT(*) AS n_members FROM e GROUP BY label),
         |pc AS (SELECT label, COUNT(*) AS pair_cnt FROM p GROUP BY label),
         |pr AS (SELECT label, COUNT(*) AS pruned_cnt
         |       FROM (SELECT DISTINCT label, vec_b FROM p) GROUP BY label)
         |SELECT m.label, m.n_members,
         |       COALESCE(pc.pair_cnt, 0) AS n_dup_pairs,
         |       COALESCE(pr.pruned_cnt, 0) AS n_pruned
         |FROM m LEFT JOIN pc ON m.label = pc.label
         |       LEFT JOIN pr ON m.label = pr.label""".stripMargin),
    // flattened single WITH list (DuckDB 1.0 rejects nested WITH in a
    // derived table); exact/lsh/ivf pipelines share the e and q CTEs
    QueryDef("llm_ann_recall", annRecall,
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, bkt AS q_bkt FROM e WHERE vec_id < 10),
         |xs AS (SELECT q_id, vec_id,
         |         ${cosSql.format("qv", "v", "qv", "qv", "v", "v")} AS sim_raw
         |       FROM q CROSS JOIN e WHERE vec_id <> q_id),
         |xr AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |         ORDER BY sim_raw DESC, vec_id) AS rnk FROM xs),
         |exact AS (SELECT q_id, vec_id FROM xr WHERE rnk <= 3),
         |ls AS (SELECT q_id, vec_id,
         |         ${cosSql.format("qv", "v", "qv", "qv", "v", "v")} AS sim_raw
         |       FROM q JOIN e ON bkt = q_bkt AND vec_id <> q_id),
         |lr AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |         ORDER BY sim_raw DESC, vec_id) AS rnk FROM ls),
         |lsh AS (SELECT q_id, vec_id FROM lr WHERE rnk <= 3),
         |iflat AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
         |            unnest(embedding) AS v FROM embeddings),
         |icent AS (SELECT label, pos,
         |            CAST(SUM(CAST(v AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
         |          FROM iflat GROUP BY label, pos),
         |icarr AS (SELECT label AS c_label, list(c ORDER BY pos) AS centroid
         |          FROM icent GROUP BY label),
         |ia AS (SELECT q_id, qv, c_label,
         |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
         |           ${cosSql.format("qv", "centroid", "qv", "qv", "centroid", "centroid")} DESC,
         |           c_label) AS rn
         |       FROM q CROSS JOIN icarr),
         |ip AS (SELECT q_id, qv, c_label AS probe_label FROM ia WHERE rn <= 1),
         |ie AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings),
         |isq AS (SELECT p.q_id, ie.vec_id,
         |          ${cosSql.format("p.qv", "ie.v", "p.qv", "p.qv", "ie.v", "ie.v")} AS sim_raw
         |        FROM ip p JOIN ie ON ie.label = p.probe_label
         |         AND ie.vec_id <> p.q_id),
         |ir AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |         ORDER BY sim_raw DESC, vec_id) AS rnk FROM isq),
         |ivf AS (SELECT q_id, vec_id FROM ir WHERE rnk <= 3),
         |ne AS (SELECT COUNT(*) AS n_exact FROM exact)
         |SELECT 'lsh' AS method,
         |  (SELECT COUNT(*) FROM exact JOIN lsh
         |     ON exact.q_id = lsh.q_id AND exact.vec_id = lsh.vec_id) AS n_hits,
         |  n_exact,
         |  (SELECT COUNT(*) FROM exact JOIN lsh
         |     ON exact.q_id = lsh.q_id AND exact.vec_id = lsh.vec_id)
         |    / CAST(n_exact AS DOUBLE) AS recall
         |FROM ne
         |UNION ALL
         |SELECT 'ivf',
         |  (SELECT COUNT(*) FROM exact JOIN ivf
         |     ON exact.q_id = ivf.q_id AND exact.vec_id = ivf.vec_id),
         |  n_exact,
         |  (SELECT COUNT(*) FROM exact JOIN ivf
         |     ON exact.q_id = ivf.q_id AND exact.vec_id = ivf.vec_id)
         |    / CAST(n_exact AS DOUBLE)
         |FROM ne""".stripMargin),
    QueryDef("llm_ann_ndcg", annNdcg,
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, bkt AS q_bkt FROM e WHERE vec_id < 10),
         |xs AS (SELECT q_id, vec_id,
         |         ${cosSql.format("qv", "v", "qv", "qv", "v", "v")} AS sim_raw
         |       FROM q CROSS JOIN e WHERE vec_id <> q_id),
         |xr AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |         ORDER BY sim_raw DESC, vec_id) AS rnk FROM xs),
         |rel AS (SELECT q_id, vec_id, 4 - rnk AS rel FROM xr WHERE rnk <= 3),
         |ls AS (SELECT q_id, vec_id,
         |         ${cosSql.format("qv", "v", "qv", "qv", "v", "v")} AS sim_raw
         |       FROM q JOIN e ON bkt = q_bkt AND vec_id <> q_id),
         |lr AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |         ORDER BY sim_raw DESC, vec_id) AS rnk FROM ls),
         |hit AS (SELECT l.q_id, SUM(r.rel / log2(l.rnk + 1)) AS dcg_raw
         |        FROM lr l JOIN rel r ON r.q_id = l.q_id AND r.vec_id = l.vec_id
         |        WHERE l.rnk <= 3 GROUP BY l.q_id)
         |SELECT q.q_id, COALESCE(hit.dcg_raw, 0.0) AS dcg,
         |  3.0 / log2(2.0) + 2.0 / log2(3.0) + 1.0 / log2(4.0) AS idcg,
         |  COALESCE(hit.dcg_raw, 0.0)
         |    / (3.0 / log2(2.0) + 2.0 / log2(3.0) + 1.0 / log2(4.0)) AS ndcg
         |FROM q LEFT JOIN hit ON hit.q_id = q.q_id""".stripMargin),
    QueryDef("llm_rank_fusion", annRankFusion,
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, bkt AS q_bkt FROM e WHERE vec_id < 10),
         |ls AS (SELECT q_id, vec_id,
         |         ${cosSql.format("qv", "v", "qv", "qv", "v", "v")} AS sim_raw
         |       FROM q JOIN e ON bkt = q_bkt AND vec_id <> q_id),
         |lr AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |         ORDER BY sim_raw DESC, vec_id) AS rnk FROM ls),
         |lsh3 AS (SELECT q_id, vec_id, rnk FROM lr WHERE rnk <= 3),
         |iflat AS (SELECT label, generate_subscripts(embedding, 1) AS pos,
         |            unnest(embedding) AS v FROM embeddings),
         |icent AS (SELECT label, pos,
         |            CAST(SUM(CAST(v AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
         |          FROM iflat GROUP BY label, pos),
         |icarr AS (SELECT label AS c_label, list(c ORDER BY pos) AS centroid
         |          FROM icent GROUP BY label),
         |ia AS (SELECT q_id, qv, c_label,
         |         ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY
         |           ${cosSql.format("qv", "centroid", "qv", "qv", "centroid", "centroid")} DESC,
         |           c_label) AS rn
         |       FROM q CROSS JOIN icarr),
         |ip AS (SELECT q_id, qv, c_label AS probe_label FROM ia WHERE rn <= 1),
         |ie AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |       FROM embeddings),
         |isq AS (SELECT p.q_id, ie.vec_id,
         |          ${cosSql.format("p.qv", "ie.v", "p.qv", "p.qv", "ie.v", "ie.v")} AS sim_raw
         |        FROM ip p JOIN ie ON ie.label = p.probe_label
         |         AND ie.vec_id <> p.q_id),
         |ir AS (SELECT q_id, vec_id, ROW_NUMBER() OVER (PARTITION BY q_id
         |         ORDER BY sim_raw DESC, vec_id) AS rnk FROM isq),
         |ivf3 AS (SELECT q_id, vec_id, rnk FROM ir WHERE rnk <= 3),
         |f AS (SELECT COALESCE(a.q_id, b.q_id) AS q_id,
         |        COALESCE(a.vec_id, b.vec_id) AS vec_id,
         |        COALESCE(1.0 / (60.0 + a.rnk), 0.0)
         |          + COALESCE(1.0 / (60.0 + b.rnk), 0.0) AS rrf_score
         |      FROM lsh3 a FULL JOIN ivf3 b
         |        ON a.q_id = b.q_id AND a.vec_id = b.vec_id),
         |rr AS (SELECT q_id, vec_id, rrf_score,
         |         ROW_NUMBER() OVER (PARTITION BY q_id
         |           ORDER BY rrf_score DESC, vec_id) AS rnk FROM f)
         |SELECT q_id, CAST(rnk AS BIGINT) AS rnk, vec_id, rrf_score
         |FROM rr WHERE rnk <= 3""".stripMargin),
    QueryDef("llm_kmeans_train", kmeansTrain,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |c0 AS (SELECT CAST(vec_id AS INT) AS cid, v AS c FROM e WHERE vec_id < 8),
         |a1 AS (SELECT vec_id, v, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |         ORDER BY ${l2Sql.format("v", "v", "v", "c", "c", "c")} ASC, cid ASC) AS rn
         |       FROM e CROSS JOIN c0),
         |s1 AS (SELECT vec_id, v, cid FROM a1 WHERE rn = 1),
         |f1 AS (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM s1),
         |m1 AS (SELECT cid, pos,
         |         CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
         |       FROM f1 GROUP BY cid, pos),
         |c1 AS (SELECT cid, list(c ORDER BY pos) AS c FROM m1 GROUP BY cid),
         |a2 AS (SELECT vec_id, v, cid, ROW_NUMBER() OVER (PARTITION BY vec_id
         |         ORDER BY ${l2Sql.format("v", "v", "v", "c", "c", "c")} ASC, cid ASC) AS rn
         |       FROM e CROSS JOIN c1),
         |s2 AS (SELECT vec_id, v, cid FROM a2 WHERE rn = 1),
         |f2 AS (SELECT cid, generate_subscripts(v, 1) AS pos, unnest(v) AS x FROM s2),
         |m2 AS (SELECT cid, pos,
         |         CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS c
         |       FROM f2 GROUP BY cid, pos),
         |c2 AS (SELECT cid, list(c ORDER BY pos) AS c FROM m2 GROUP BY cid),
         |n AS (SELECT cid, COUNT(*) AS n_members FROM s2 GROUP BY cid)
         |SELECT n.cid, n.n_members, c2.c[1] AS c0
         |FROM n JOIN c2 ON n.cid = c2.cid""".stripMargin),
    QueryDef("llm_vector_norms", vectorNorms,
      """SELECT vec_id,
        |  ROUND(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                           CAST(embedding AS DOUBLE[])), 6) AS norm2_native,
        |  ROUND(list_inner_product(CAST(embedding AS DOUBLE[]),
        |                           CAST(embedding AS DOUBLE[])), 6) AS norm2_hof
        |FROM embeddings""".stripMargin),
    QueryDef("llm_ann_ivf", annIvf, ivfSql(1)),
    QueryDef("llm_ann_ivf2", annIvf2, ivfSql(2)),
    QueryDef("llm_ann_pq", annPq,
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |subs AS (SELECT vec_id, m, v[m*16+1 : m*16+16] AS sub
         |         FROM e, (SELECT unnest(range(4)) AS m)),
         |seeds AS (SELECT m, CAST(vec_id AS INT) AS cid, sub AS c
         |          FROM subs WHERE vec_id < 16),
         |a1 AS (SELECT vec_id, m, sub, cid, ROW_NUMBER() OVER (
         |         PARTITION BY vec_id, m
         |         ORDER BY ${l2Sql.format("sub", "sub", "sub", "c", "c", "c")} ASC, cid ASC) AS rn
         |       FROM subs JOIN seeds USING (m)),
         |s1 AS (SELECT vec_id, m, sub, cid FROM a1 WHERE rn = 1),
         |f1 AS (SELECT m, cid, generate_subscripts(sub, 1) AS pos, unnest(sub) AS x
         |       FROM s1),
         |m1 AS (SELECT m, cid, pos,
         |         CAST(SUM(CAST(x AS DECIMAL(20,8))) AS DOUBLE) / COUNT(*) AS cc
         |       FROM f1 GROUP BY 1, 2, 3),
         |cb AS (SELECT m, cid, list(cc ORDER BY pos) AS c FROM m1 GROUP BY m, cid),
         |a2 AS (SELECT vec_id, m, cid, ROW_NUMBER() OVER (
         |         PARTITION BY vec_id, m
         |         ORDER BY ${l2Sql.format("sub", "sub", "sub", "c", "c", "c")} ASC, cid ASC) AS rn
         |       FROM subs JOIN cb USING (m)),
         |codes AS (SELECT vec_id, m, cid FROM a2 WHERE rn = 1),
         |qs AS (SELECT vec_id AS q_id, m, sub AS qsub FROM subs WHERE vec_id < 10),
         |lut AS (SELECT q_id, m, cid,
         |          CAST(${l2Sql.format("qsub", "qsub", "qsub", "c", "c", "c")} AS DECIMAL(18,9)) AS d
         |        FROM qs JOIN cb USING (m)),
         |sc AS (SELECT q_id, vec_id, CAST(SUM(d) AS DOUBLE) AS adist
         |       FROM codes JOIN lut USING (m, cid)
         |       WHERE vec_id <> q_id GROUP BY 1, 2),
         |r AS (SELECT q_id, vec_id, adist, CAST(ROW_NUMBER() OVER (
         |        PARTITION BY q_id ORDER BY adist ASC, vec_id) AS BIGINT) AS rnk
         |      FROM sc)
         |SELECT q_id, rnk, vec_id, adist
         |FROM r WHERE rnk <= 3""".stripMargin),
    QueryDef("llm_cosine_topk", cosineTopk,
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
         |s AS (SELECT q_id, vec_id,
         |        ${cosSql.format("qv", "v", "qv", "qv", "v", "v")} AS sim_raw
         |      FROM q CROSS JOIN e WHERE vec_id <> q_id),
         |r AS (SELECT q_id, vec_id, sim_raw,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |             ORDER BY sim_raw DESC, vec_id) AS BIGINT) AS rnk
         |      FROM s)
         |SELECT q_id, rnk, vec_id, ROUND(sim_raw, 4) AS sim
         |FROM r WHERE rnk <= 5""".stripMargin),
    QueryDef("llm_ann_lsh", annLsh,
      s"""WITH $eCte,
         |q AS (SELECT vec_id AS q_id, v AS qv, bkt AS q_bkt FROM e WHERE vec_id < 10),
         |s AS (SELECT q_id, vec_id,
         |        ${cosSql.format("qv", "v", "qv", "qv", "v", "v")} AS sim_raw
         |      FROM q JOIN e ON bkt = q_bkt AND vec_id <> q_id),
         |r AS (SELECT q_id, vec_id, sim_raw,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |             ORDER BY sim_raw DESC, vec_id) AS BIGINT) AS rnk
         |      FROM s)
         |SELECT q_id, rnk, vec_id, ROUND(sim_raw, 4) AS sim
         |FROM r WHERE rnk <= 3""".stripMargin),
    QueryDef("llm_embed_neardup", embedNearDup,
      s"""WITH dial AS (SELECT LEAST(16, 4 + ${ladderSql("COUNT(*)", 512L, 12)}) AS w
         |              FROM embeddings),
         |e AS (SELECT vec_id, embedding,
         |        CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |bits AS (SELECT e.vec_id, b.band, j.j,
         |           CASE WHEN j.j >= 0 AND e.embedding[b.band * 16 + j.j + 1] > 0
         |                THEN (CAST(1 AS BIGINT) << j.j) ELSE 0 END AS bit
         |         FROM e
         |           CROSS JOIN (SELECT unnest(range(4)) AS band) b
         |           CROSS JOIN
         |             (SELECT unnest(range(-1, (SELECT w FROM dial))) AS j) j),
         |bands AS (SELECT vec_id, band, CAST(SUM(bit) AS BIGINT) AS bv
         |          FROM bits GROUP BY 1, 2),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM bands a JOIN bands b ON a.band = b.band
         |           AND a.bv = b.bv AND a.vec_id < b.vec_id)
         |SELECT c.vec_a, c.vec_b,
         |  ROUND(${cosSql.format("ea.v", "eb.v", "ea.v", "ea.v", "eb.v", "eb.v")}, 4) AS sim
         |FROM cand c
         |  JOIN e ea ON ea.vec_id = c.vec_a
         |  JOIN e eb ON eb.vec_id = c.vec_b
         |WHERE ${cosSql.format("ea.v", "eb.v", "ea.v", "ea.v", "eb.v", "eb.v")} >= 0.42""".stripMargin))
}
