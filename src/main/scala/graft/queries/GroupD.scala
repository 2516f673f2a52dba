package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Group D — scale-path extensions of the Group C LLM-pipeline surface:
  * the sketch/bucketed formulations a 100 TB corpus needs where Group C's
  * exact variants would blow up, plus text-analysis operators (language ID,
  * quality scoring, token counting, fingerprinting). All declarative; no
  * UDFs; every hash is built from engine-deterministic primitives
  * (xxhash64 / md5) so results are reproducible run-to-run.
  *
  * ANSI-arithmetic note: Spark 4 enables ANSI mode, so integer overflow
  * THROWS instead of wrapping. Every hash recurrence here is therefore
  * arranged to stay inside the long range: MinHash permutes via
  * `(a * h32 + b) mod (2^61-1)` with `a, b < 2^31` and `h32 < 2^32`
  * (product < 2^63), and the rolling fingerprint folds
  * `(acc * 65599 + h16) mod (2^31-1)` (product < 2^48).
  */
object GroupD {
  type Q = (SparkSession, String) => DataFrame

  /** d1: near-dup pairs via MinHash(64) + LSH banding (32 bands × 2 rows)
    * with exact-Jaccard verification of candidates — the 100 TB formulation
    * of c2. Candidate generation touches each document O(signature) times
    * regardless of how hot any one shingle is (c2's inverted-index join
    * skews on hot shingles); the exact Jaccard join runs only on candidate
    * pairs. At the 0.6 threshold and 32×2 banding the per-pair miss
    * probability is (1-j²)^32 ≤ 6e-7 at the boundary and < 1e-39 for the
    * ≥0.97 pairs present, so the verified output equals the exact oracle
    * (c2's SQL). The signature fold runs as the native codegen'd
    * [[graft.functions.MinHashSignature]] — one fused primitive loop
    * instead of O(shingles × perms) interpreted lambdas.
    *
    * NOT persisted: measured at bench scale, cache population +
    * memory-store churn cost more than recomputing the shingle subplan; a
    * long-lived cluster pipeline would persist sh and unpersist after.
    */
  /** d1's pair pipeline WITHOUT the final presentation sort — d14 consumes
    * this directly (component labeling is order-insensitive, and the
    * global ORDER BY would cost a range-partitioning sample + full sort
    * that the propagation loop's first hash shuffle immediately destroys).
    */
  /** Per-doc DISTINCT hashed-shingle arrays (one shuffle-free scan) — the
    * signature input for d1 (no explode/collect round trip; candidate
    * verification is a per-pair array_intersect instead of an exploded
    * intersection join) and the probe/verify frame for d30. (c2's exploded
    * inverted index stays separate — its pair GENERATION needs it; d1/d30
    * generate pairs from signatures/samples.)
    */
  private[queries] def shingleArrays(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), GroupC.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"), array_distinct(
        expr("transform(sequence(0, size(ts) - 3), " +
          "i -> xxhash64(concat_ws(' ', ts[i], ts[i+1], ts[i+2])))")).as("sh"))

  def d1Pairs(spark: SparkSession, sfDir: String): DataFrame =
    // the verified near-dup pair list is the hub frame of the whole
    // cluster family — d1 reports it, d14/d31 label components over it,
    // d46 keeps best per component — so under the drivers'
    // [[graft.operators.StageCache]] policy it persists once per corpus
    // (specs keep exercising the raw plan; the cache is value-identical
    // by the no-RNG discipline)
    graft.operators.StageCache.persisted(s"$sfDir#d1_pairs")(
      d1PairsRaw(spark, sfDir))

  private def d1PairsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val arrs = shingleArrays(spark, sfDir)
    val sigs = arrs.select(col("doc_id"),
      expr(s"${graft.functions.GraftFunctions.MinHashName}(sh)").as("mh"))
    val bands = sigs.select(col("doc_id"),
      posexplode(expr(
        "transform(sequence(0, 31), j -> xxhash64(j, mh[2*j], mh[2*j+1]))"))
        .as(Seq("band", "key")))
    // merge hint: with both band sides shuffled identically on (band, key),
    // the runtime reuses one exchange for the whole signature pipeline
    // instead of broadcasting a recomputed copy — measured 2.40 → 1.96 s
    // (min of 6) at sf0.1.
    val cand = bands.as("x").hint("merge")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    // exact-Jaccard verification, restricted to candidates: per-pair set
    // intersection over the (already distinct) shingle arrays
    cand
      .join(arrs.as("pa"), col("doc_a") === col("pa.doc_id"))
      .join(arrs.as("pb"), col("doc_b") === col("pb.doc_id"))
      .select(col("doc_a"), col("doc_b"),
        size(expr("array_intersect(pa.sh, pb.sh)")).cast("double").as("c"),
        size(col("pa.sh")).cast("double").as("na"),
        size(col("pb.sh")).cast("double").as("nb"))
      .select(col("doc_a"), col("doc_b"),
        (col("c") / (col("na") + col("nb") - col("c"))).as("jac"))
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b"), round(col("jac"), 4).as("jaccard"))
  }

  def d1DedupMinhashLsh(spark: SparkSession, sfDir: String): DataFrame =
    d1Pairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** d2: SimHash near-dup pairs. 32-bit signatures built from md5 token
    * hashes (md5 is identical in Spark and DuckDB, so the oracle can
    * recompute the very same signatures) — the count-weighted bit vote
    * runs as the native codegen'd [[graft.functions.SimHashSignature]]
    * rather than exploding tokens × 32 bit rows through two aggregations.
    * Candidates pair up via 4 bands of 8 bits: by pigeonhole, any two
    * signatures within Hamming distance 3 agree on at least one band — the
    * banded join is EXACT for the ≤3 threshold, not approximate, while
    * staying linear in documents.
    */
  def d2DedupSimhash(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables(spark, sfDir, "documents")
    val tw = docs
      .select(col("doc_id"), explode(GroupC.tokens(col("text"))).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("cnt"))
      .select(col("doc_id"), col("cnt"),
        expr("cast(conv(substr(md5(tok), 1, 8), 16, 10) as bigint)").as("h"))
    val sigs = tw
      .groupBy("doc_id").agg(collect_list(struct(col("h"), col("cnt"))).as("hw"))
      .select(col("doc_id"),
        expr(s"${graft.functions.GraftFunctions.SimHashName}(hw)").as("simhash"))
    val bands = sigs.select(col("doc_id"), col("simhash"),
      posexplode(expr(
        "transform(sequence(0, 3), b -> (simhash >> (8 * b)) & 255)"))
        .as(Seq("band", "key")))
    // merge hint: identical shuffles on both band sides let the runtime
    // reuse one exchange for the signature pipeline (same reuse as d1;
    // measured 1.36 → 1.16 s min-of-5 at sf0.1).
    bands.as("x").hint("merge")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("cast(bit_count(x.simhash ^ y.simhash) as bigint)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
      .orderBy("doc_a", "doc_b")
  }

  /** d3: k-NN join — exact top-5 cosine neighbors for each query vector
    * (vec_id < 50). The query side is broadcast, so the big side streams
    * once with no shuffle; per-query top-k runs as a rank-limited window.
    * This is the multi-query generalization of c3's single-query top-k.
    */
  def d3KnnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val sims = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        GroupC.cosine("v", "qv").as("s"))
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("nn_id"))
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("nn_id"), round(col("s"), 6).as("sim"), col("rn"))
      .orderBy("qid", "rn")
  }

  /** d4: approximate nearest neighbor via random-hyperplane LSH — the
    * scale path where d3's exact scan is too expensive. 20 tables × 4 sign
    * bits per vector, computed by the native codegen'd
    * [[graft.functions.HyperplaneLshKeys]] (hyperplane components are ±1
    * from a splitmix64 mix of the indices — deterministic, no stored
    * model); vectors sharing a bucket in any table become candidates;
    * exact cosine ranks the candidates and keeps the best per query.
    * Approximate ⇒ declared without an oracle (driver rows-only check);
    * d3 is the exact baseline it trades against, and PipelineOpsSpec pins
    * the measured property: top-1 recall vs d3 ≥ 0.9 at sf0.01.
    *
    * Parameter note (measured): this corpus's nearest neighbors are only
    * weakly correlated (top-1 cosine median ≈ 0.37), so ≥ 0.9 recall needs
    * coarse buckets — 20×4 measures 0.96 recall on d3's query set where
    * the classic 4-table×10-bit shape measures 0.04. On a clustered corpus
    * (near-dup regime, cosine ≥ 0.8) fewer, finer tables prune far harder.
    *
    * Round-4: the (tables, bits) choice is AUTO-TUNED per corpus
    * ([[graft.operators.AnnTuning.tunedLsh]]): a deterministic ≤500-vector
    * sample measures every ladder config's candidate-pair fraction and
    * estimated top-1 recall, and the cheapest config meeting recall ≥ 0.9
    * within the 0.25 candidate budget wins (recall wins when the corpus
    * can't meet both — the weak-correlation regime here — with the
    * fraction now MEASURED, visible in logs, and pinned in
    * PipelineOpsSpec rather than implicit). Candidate generation also
    * carries the big-bucket guard: index-side membership per bucket is
    * capped at a deterministic 2048-row subset, bounding per-query
    * candidates at tables × cap by construction on any key skew.
    */
  def d4AnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val tuned = graft.operators.AnnTuning.tunedLsh(spark, e, s"lsh|$sfDir")
    // the big-bucket guard engages only when the measured bucket stats say
    // a bucket would actually exceed the cap — otherwise the uncapped plan
    // keeps its single shared exchange (AnnTuning.effectiveCap)
    annLsh(e, spark, tuned.config.tables, tuned.config.bits,
      graft.operators.AnnTuning.effectiveCap(tuned),
      probes = tuned.config.probes)
  }

  /** d13: approximate top-k similarity search via the tuned LSH — d3's
    * exact top-5 with the d4 candidate machinery: same 50-query set, same
    * output shape (qid, nn_id, sim, rn), but candidates come from the
    * auto-tuned banding instead of a full corpus scan. Restricting the
    * QUERY side of the bucket join to the 50 query vectors keeps candidate
    * volume ∝ queries × bucket size, not corpus² — the asymmetric probe an
    * ANN serving path runs. Approximate ⇒ rows-only; PipelineOpsSpec pins
    * the measured top-5 overlap vs d3.
    */
  def d13AnnTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val tuned = graft.operators.AnnTuning.tunedLsh(spark, e, s"lsh|$sfDir")
    annLsh(e, spark, tuned.config.tables, tuned.config.bits,
      graft.operators.AnnTuning.effectiveCap(tuned),
      k = 5, queryPred = Some(col("vec_id") < 50),
      probes = tuned.config.probes)
  }

  /** Hyperplane-LSH top-k on an arbitrary (vec_id, v) frame — d4/d13's
    * body, reusable in specs. `bucketCap` bounds index-side bucket
    * membership (queries keep all probes — see
    * [[graft.operators.AnnTuning.capBuckets]]); `queryPred` optionally
    * restricts the query side (the index side always spans the corpus).
    */
  /** Tuned-LSH candidate (qid, nn_id) pairs on an arbitrary (vec_id, v)
    * frame — the candidate generator shared by d4/d13 (via [[annLsh]])
    * and d52's label propagation. Candidate pairs are deduplicated as
    * 16-byte ID pairs BEFORE the vectors are attached: a distinct over
    * rows that carry two 64-double arrays would shuffle the whole corpus
    * once per colliding table (measured 67 s vs 4 s at sf0.1).
    */
  private[queries] def lshCandidatePairs(e: DataFrame, spark: SparkSession,
      tables: Int, bits: Int, bucketCap: Int,
      queryPred: Option[Column] = None, probes: Int = 0): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // table-QUALIFIED keys ((tbl << bits) | bucket — HyperplaneLshProbeKeys)
    // so the bucket equi-join runs on ONE 8-byte column; with probes > 0
    // the QUERY side additionally probes its cheapest perturbation buckets
    // (multiprobe — the index side always carries exact keys only, so
    // index size is unchanged and the tuner can buy recall with fewer
    // tables instead of more collisions)
    def keyed(p: Int) = e.select(col("vec_id"),
      explode(expr(s"${graft.functions.GraftFunctions.LshProbeKeysName}" +
        s"(v, $tables, $bits, $p)")).as("bkey"))
    val queries = queryPred.fold(keyed(probes))(keyed(probes).filter)
    val index = graft.operators.AnnTuning.capBucketsQualified(keyed(0), bucketCap)
    // skipping this distinct for duplicate-invariant consumers (top-1
    // rank) was measured r21: a wash locally on the tuned 10×5×1p
    // config (capped candidate volume is small), and dedup-before-
    // attach shuffles fewer rows at scale — it stays
    queries.as("x")
      .join(index.as("y"),
        col("x.bkey") === col("y.bkey") &&
          col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nn_id"))
      .distinct()
  }

  private[queries] def annLsh(e: DataFrame, spark: SparkSession,
      tables: Int, bits: Int, bucketCap: Int,
      k: Int = 1, queryPred: Option[Column] = None,
      probes: Int = 0): DataFrame = {
    val cand = lshCandidatePairs(e, spark, tables, bits, bucketCap, queryPred,
      probes)
    val sims = cand
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .join(e.select(col("vec_id").as("nn_id"), col("v").as("nv")), Seq("nn_id"))
      .select(col("qid"), col("nn_id"), GroupC.cosine("nv", "qv").as("s"))
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("nn_id"))
    val ranked = sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
    if (k == 1)
      ranked.select(col("qid"), col("nn_id"), round(col("s"), 6).as("sim"))
        .orderBy("qid")
    else
      ranked.select(col("qid"), col("nn_id"), round(col("s"), 6).as("sim"), col("rn"))
        .orderBy("qid", "rn")
  }

  /** d11: approximate nearest neighbor via IVF-Flat — the second classic
    * ANN family next to d4's hyperplane LSH. Deterministic, model-free
    * coarse quantizer: every vector whose `vec_id ≡ 0 (mod 31)` IS a
    * centroid (stride sampling — K grows ∝ n, the right IVF scaling, with
    * no k-means state to store or ship); each vector is assigned to its
    * best centroid (one broadcast + one scan), each query probes its 8
    * nearest cells, and exact native cosine re-ranks the probed cells'
    * members. Unlike LSH banding, a vector lives in exactly ONE cell, so
    * candidate pairs are generated at most once — no dedup pass.
    *
    * Scale shape: centroids broadcast (K ≪ n), assignment is one O(n·K)
    * scan, the candidate join shuffles on the cell id (hash-uniform-ish;
    * AQE skew-join covers dense cells). Measured on this
    * weakly-correlated corpus: top-1 recall 0.72 probing 8/17 cells at
    * sf0.01 (PipelineOpsSpec pins ≥ 0.65 vs d3) — and recall ≥ 0.95
    * probing 2 of ~15 cells on a CLUSTERED corpus, the regime IVF is
    * built for (also pinned). Approximate ⇒ rows-only, like d4.
    *
    * Round-4: (stride, probes) is AUTO-TUNED per corpus
    * ([[graft.operators.AnnTuning.tunedIvf]]) — cheapest ladder config
    * whose sampled scanned-fraction fits the 0.25 budget at recall ≥ 0.65,
    * recall winning when the corpus can't meet both (same discipline as
    * d4, same measured-fraction visibility).
    */
  def d11AnnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val tuned = graft.operators.AnnTuning.tunedIvf(spark, e, s"ivf|$sfDir")
    annIvf(e, spark, tuned.config.stride, tuned.config.probes)
  }

  /** IVF-Flat top-1 on an arbitrary (vec_id, v) frame — d11's body,
    * reusable in specs against synthetic clustered corpora.
    */
  /** IVF candidate (qid, nn_id) pairs on an arbitrary (vec_id, v) frame —
    * the stride-centroid cell probe shared by d11 (via [[annIvf]]) and
    * d52's IVF variant: each vector lives in exactly ONE cell, each query
    * probes its `probes` nearest cells, candidates are the probed cells'
    * members.
    */
  private[queries] def ivfCandidatePairs(e: DataFrame, spark: SparkSession,
      stride: Int, probes: Int): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val cent = e.filter(pmod(col("vec_id"), lit(stride)) === 0)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val scored = e.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("v"), col("cid"), GroupC.cosine("v", "cv").as("cs"))
    val wCell = Window.partitionBy("vec_id").orderBy(col("cs").desc, col("cid"))
    val ranked = scored.withColumn("crn", row_number().over(wCell))
    val assign = ranked.filter(col("crn") === 1)
      .select(col("vec_id").as("nn_id"), col("cid").as("cell"))
    val probe = ranked.filter(col("crn") <= probes)
      .select(col("vec_id").as("qid"), col("cid").as("cell"))
    probe.join(assign, Seq("cell"))
      .filter(col("qid") =!= col("nn_id"))
      .select("qid", "nn_id")
  }

  private[queries] def annIvf(e: DataFrame, spark: SparkSession,
      stride: Int, probes: Int): DataFrame = {
    val cand = ivfCandidatePairs(e, spark, stride, probes)
    val sims = cand
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .join(e.select(col("vec_id").as("nn_id"), col("v").as("nv")), Seq("nn_id"))
      .select(col("qid"), col("nn_id"), GroupC.cosine("nv", "qv").as("s"))
    val wTop = Window.partitionBy("qid").orderBy(col("s").desc, col("nn_id"))
    sims.withColumn("rn", row_number().over(wTop))
      .filter(col("rn") === 1)
      .select(col("qid"), col("nn_id"), round(col("s"), 6).as("sim"))
      .orderBy("qid")
  }

  /** d9: embedding-cosine near-dup DEDUPLICATION — keep a vector unless it
    * is similar (cosine ≥ 0.3) to an earlier-id vector: the deterministic
    * keep-earliest rule a dedup pipeline wants (no cluster-order
    * dependence). Distinct from d3/c3, which RANK neighbors — this one
    * DROPS them.
    *
    * Exact all-pairs compute is INHERENT at this threshold: τ = 0.3 is a
    * 72.5° angle, where a random-hyperplane bit agrees with probability
    * 0.597 for a qualifying pair vs ≈ 0.5 for a random one — measured on
    * this corpus, any banding with 100% drop recall leaves ≥ 87% of all
    * pairs as candidates (see d10 + SCALE.md).
    *
    * ORACLE-ANCHOR ONLY — never run this at production sf: the quadratic
    * exact scan exists to pin the contract; the production path is
    * [[d10DedupEmbeddingLsh]] (same keep-earliest contract, LSH-bounded
    * candidates). What IS avoidable even in the anchor is the
    * broadcast-nested-loop plan a key-less `ida < idb` join produces: that
    * broadcasts the entire corpus to every task and dies at 100 TB. The
    * pair source here is a BLOCK-PAIR (triangle) equi-join instead —
    * block i = vec_id mod B; the left side replicates each vector to block
    * pairs (i, j≥i), the right side to (i≤j, j), and the join runs on the
    * (i, j) key. Same O(n²) cosine evaluations, but as a shuffle-partitioned
    * hash/merge join: O(n·(B+1)) shuffle rows, B(B+1)/2 evenly-sized tasks,
    * no full-corpus broadcast, no skew (blocks are hash-uniform). At
    * cluster scale pick B ≈ √(2 × task slots); B = 8 (36 block pairs)
    * saturates local[32].
    */
  def d9DedupEmbedding(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val B = 8
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val blocked = e.withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
    val left = blocked
      .select(col("vec_id").as("ida"), col("v").as("va"), col("blk").as("bi"))
      .withColumn("bj", explode(expr(s"sequence(bi, ${B - 1})")))
    val right = blocked
      .select(col("vec_id").as("idb"), col("v").as("vb"), col("blk").as("bj"))
      .withColumn("bi", explode(expr("sequence(0, bj)")))
    // Each unordered vector pair meets exactly once across block pairs
    // (twice on the i = j diagonal, both orientations — greatest+distinct
    // collapses them); the qualifying pair's LARGER id is the drop.
    val dupIds = left
      .join(right, Seq("bi", "bj"))
      .filter(col("ida") =!= col("idb"))
      .filter(GroupC.cosine("va", "vb") >= 0.3)
      .select(greatest(col("ida"), col("idb")).as("dup")).distinct()
    e.join(dupIds, col("vec_id") === col("dup"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  /** d10: the same dedup semantics as d9 with the pair source swapped to
    * hyperplane-LSH band candidates (the d4 machinery): vectors sharing a
    * bucket in ANY of 24 tables × 3 sign bits become candidates, exact
    * native cosine verifies each candidate, and the same
    * greatest-id + anti-join tail drops the dups. Deterministic (fixed
    * splitmix64 hyperplanes), so the recall is a measured FACT of the
    * dataset, not a distribution: at 24×3 every exact drop at sf0.01 AND
    * sf0.1 has at least one colliding qualifying partner (zero missed
    * drops, zero spurious drops — verification is exact), so the output
    * hash-matches the same NOT-EXISTS oracle as d9.
    *
    * Honest scale note (measured, SCALE.md): at τ = 0.3 banding does NOT
    * prune — ~95% of all pairs stay candidates at these settings, so this
    * query is the CODE PATH proof, d9's block-pair join the better exact
    * plan at low thresholds. Banding pays off in the near-dup regime it is
    * built for (τ ≥ 0.8 prunes > 99% of pairs — demonstrated on clustered
    * vectors in PipelineOpsSpec), where the identical plan shape scales
    * linearly in documents.
    *
    * r22 parameter sweep (OPTIMIZATION_r22.md, "d10_dedup_embedding_lsh"
    * — "fewer tables × wider bands at equal recall"): measured NEGATIVE. At
    * sf0.1, 24×3 is the UNIQUE config in the sweep whose drop set
    * equals d9's exact answer (129 survivors); every cheaper config
    * loses drops (16×3 → 132 survivors at 1.49 s, 12×3 → 134, 12×4 →
    * 155, …) and would break the oracle hash. The 24×3 cost is the
    * recall contract at this threshold; do not re-tune blind.
    */
  def d10DedupEmbeddingLsh(spark: SparkSession, sfDir: String): DataFrame =
    dedupEmbeddingLsh(Tables(spark, sfDir, "embeddings")
        .select(col("vec_id"), col("label"),
          col("embedding").cast("array<double>").as("v")),
      spark, tables = 24, bits = 3, threshold = 0.3)

  /** LSH-candidate dedup on an arbitrary (vec_id, label, v) frame —
    * d10's body, reusable in specs against synthetic clustered corpora.
    */
  private[queries] def dedupEmbeddingLsh(e: DataFrame, spark: SparkSession,
      tables: Int, bits: Int, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // NO pair-level distinct before the verify (r21): the cosine verify
    // is one fused codegen loop over broadcast-attached vectors, so
    // verifying every collision row and deduplicating only the final
    // drop-ids is cheaper than shuffling the pre-dedup collision stream
    // (~24× the distinct pairs at these settings) through a pair
    // HashAggregate exchange — measured 3.12 → ~1.9 s at sf0.1/24×3.
    // (Two older alternatives stay documented: the "first-collision
    // emission" zip_with/slice filter on every joined row measured
    // 25.7 s; the pair distinct itself 3.3 s.) The filter is idempotent
    // per duplicate candidate row, and the final idb distinct dedupes
    // at drop-set size, so the output is unchanged.
    val keyed = e.select(col("vec_id"), col("v"),
      posexplode(expr(
        s"${graft.functions.GraftFunctions.LshKeysName}(v, $tables, $bits)"))
        .as(Seq("tbl", "bucket")))
    val cand = keyed.as("x")
      .join(keyed.as("y"),
        col("x.tbl") === col("y.tbl") && col("x.bucket") === col("y.bucket") &&
          col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("ida"), col("y.vec_id").as("idb"))
    val dupIds = cand
      .join(e.select(col("vec_id").as("ida"), col("v").as("va")), Seq("ida"))
      .join(e.select(col("vec_id").as("idb"), col("v").as("vb")), Seq("idb"))
      .filter(GroupC.cosine("va", "vb") >= threshold)
      .select(col("idb")).distinct()
    e.join(dupIds, col("vec_id") === col("idb"), "left_anti")
      .select(col("vec_id"), col("label"))
      .orderBy("vec_id")
  }

  // --- language-ID stopword lists (tiny, deterministic heuristic) --------
  private val langLists: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "it"),
    "es" -> Seq("el", "la", "los", "de", "que", "y", "en", "un"),
    "fr" -> Seq("le", "les", "et", "une", "des", "du", "est", "au"),
    "de" -> Seq("der", "die", "das", "und", "von", "zu", "ist", "ein"),
  )
  private def sqlInList(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("(", ", ", ")")

  /** d5: heuristic language ID — per-language stopword hit counts with a
    * fixed-priority argmax. One explode + one aggregate; the per-language
    * sums ride map-side partial aggregation.
    */
  def d5LangId(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"),
      explode(GroupC.tokens(col("text"))).as("token"))
    val hitCols = langLists.map { case (lang, words) =>
      sum(when(col("token").isin(words: _*), 1L).otherwise(0L)).as(s"${lang}_hits")
    }
    val hits = toks.groupBy("doc_id").agg(hitCols.head, hitCols.tail: _*)
    docs.select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id") +: langLists.map { case (l, _) =>
        coalesce(col(s"${l}_hits"), lit(0L)).as(s"${l}_hits") }: _*)
      .withColumn("pred_lang",
        expr("""case
          |  when en_hits > 0 and en_hits >= es_hits and en_hits >= fr_hits and en_hits >= de_hits then 'en'
          |  when es_hits > 0 and es_hits >= fr_hits and es_hits >= de_hits then 'es'
          |  when fr_hits > 0 and fr_hits >= de_hits then 'fr'
          |  when de_hits > 0 then 'de'
          |  else 'und' end""".stripMargin))
      .orderBy("doc_id")
  }

  /** d6: document quality scoring — token count, average token length,
    * punctuation ratio, stopword ratio, and a pass/fail gate. Ratios are
    * emitted as FLOOR(x · 10⁴) fixed-point longs: floor of an identical
    * double is identical in every engine, where ROUND's half-way rule is
    * not. Every denominator is `greatest(n, 1)`-guarded: a zero-length text
    * would otherwise produce 0/0 = NaN, and `cast(floor(NaN) as bigint)`
    * under Spark 4 ANSI mode aborts the whole query on one empty document.
    * The oracle applies the identical guard. Pure per-row expressions;
    * trivially scan-parallel.
    */
  def d6QualityScore(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val stop = sqlInList(langLists.head._2)
    docs
      .select(col("doc_id"), col("text"), GroupC.tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        expr("size(ts)").cast("long").as("n_tokens"),
        expr("cast(floor(aggregate(ts, 0L, (acc, x) -> acc + length(x)) " +
          "/ cast(greatest(size(ts), 1) as double) * 10000) as bigint)").as("avg_token_len_e4"),
        expr("cast(floor(length(regexp_replace(text, '[a-zA-Z0-9 ]', '')) " +
          "/ cast(greatest(length(text), 1) as double) * 10000) as bigint)").as("punct_ratio_e4"),
        expr(s"cast(floor(size(filter(ts, x -> x in $stop)) " +
          "/ cast(greatest(size(ts), 1) as double) * 10000) as bigint)").as("stop_ratio_e4"))
      .withColumn("quality_ok",
        col("n_tokens") >= 5 && col("punct_ratio_e4") <= 3000 &&
          col("avg_token_len_e4") >= 15000 && col("avg_token_len_e4") <= 120000)
      .orderBy("doc_id")
  }

  /** d7: token counting — whitespace tokens, BPE-ish sub-token count (the
    * `[a-z]+|[0-9]|[^a-z0-9\s]` segmentation a byte-pair tokenizer
    * approximates), and raw characters. Per-row regex work, scan-parallel.
    */
  def d7TokenCount(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    docs.select(col("doc_id"),
      expr(raw"size(split(trim(text), '\\s+'))").cast("long").as("ws_tokens"),
      expr(raw"size(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\\s]', 0))")
        .cast("long").as("bpe_ish_tokens"),
      length(col("text")).cast("long").as("n_chars_actual"))
      .orderBy("doc_id")
  }

  /** d8: document fingerprinting — an md5 content fingerprint of the
    * normalized token stream plus a 31-bit polynomial rolling hash folded
    * left-to-right over md5-derived 16-bit token hashes (the streaming-
    * friendly fingerprint; both engines fold in the same order). The md5
    * fingerprint is the 100 TB dedup key: c1 keyed on it shuffles 16-byte
    * keys instead of full documents.
    */
  def d8Fingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val withFp = docs
      .select(col("doc_id"), GroupC.tokens(col("text")).as("ts"))
      .select(col("doc_id"),
        md5(expr("concat_ws(' ', ts)")).as("md5_fp"),
        expr("aggregate(transform(ts, t -> cast(conv(substr(md5(t), 1, 4), 16, 10) as bigint)), " +
          "0L, (acc, h) -> (acc * 65599 + h) % 2147483647)").as("rolling_fp"))
    val w = Window.partitionBy("md5_fp")
    withFp.withColumn("n_same", count(lit(1)).over(w))
      .select(col("doc_id"), col("md5_fp"), col("rolling_fp"), col("n_same"))
      .orderBy("doc_id")
  }

  /** d12: sketch aggregates — the approximate statistics a 100 TB profiler
    * runs where exact distinct-count/percentile would shuffle every value:
    * HyperLogLog++ distinct counts (2% target rsd) and a mergeable
    * quantile sketch (approx_percentile, accuracy 10⁴). Both are
    * partial-aggregated sketches: the shuffle carries one fixed-size
    * sketch per group per partition, independent of row count — the whole
    * point at scale. Approximate ⇒ rows-only (the driver checks shape);
    * PipelineOpsSpec pins the error bounds against the exact aggregates.
    */
  def d12SketchStats(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        approx_count_distinct(col("l_suppkey"), 0.02).as("approx_supps"),
        expr("approx_percentile(l_extendedprice, array(0.5, 0.95), 10000)")
          .as("qs"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        col("approx_parts"), col("approx_supps"),
        round(col("qs").getItem(0), 2).as("approx_p50"),
        round(col("qs").getItem(1), 2).as("approx_p95"),
        col("n"))
      .orderBy("l_returnflag")
  }

  /** d14: near-duplicate CLUSTERS — connected components over the verified
    * pair graph that [[d1DedupMinhashLsh]] (the 100 TB near-dup path)
    * emits. Pair lists answer "which two docs collide"; a dedup pipeline
    * needs the transitive closure — duplicate GROUPS with one canonical
    * survivor each (cluster_id = min doc_id in the component, the
    * deterministic keep-rule).
    *
    * Algorithm and scale mechanics live in
    * [[graft.operators.ConnectedComponents]] (min-label propagation,
    * lineage-truncated rounds, large-star/small-star escape hatch); this
    * query feeds it d1's verified pair graph and attaches component sizes.
    */
  def d14DedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    // the labeled-cluster frame is itself a shared stage (d46 keeps best
    // per cluster over exactly this output), and the labeling is an
    // ITERATIVE propagation — the most re-derivation-hostile shape there
    // is — so it rides the StageCache policy like d1Pairs above
    val clustered = graft.operators.StageCache.persisted(
        s"$sfDir#d14_clusters") {
      val pairs = d1Pairs(spark, sfDir).select("doc_a", "doc_b")
      val labels = graft.operators.ConnectedComponents
        .label(pairs, src = "doc_a", dst = "doc_b")
      val sizes = labels.groupBy("component")
        .agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "component")
        .select(col("id").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"))
    }
    clustered.orderBy("doc_id")
  }

  /** d15: deterministic stratified train/val/test split — the 80/10/10
    * assignment a training pipeline makes before anything touches the
    * corpus. Stratified EXACTLY per language: docs are ranked within each
    * lang by md5(doc_id) (a content-independent, engine-identical hash —
    * the same "no RNG" determinism contract as every graft sketch), and
    * the first ⌊0.8n⌋ / next ⌊0.9n⌋−⌊0.8n⌋ / rest take train/val/test.
    * Integer arithmetic (n·8 div 10) on both sides — no float boundary to
    * disagree on. One shuffle on lang (both window passes and the count
    * share the partitioning); scale caveat: a SINGLE lang's rank is one
    * window partition — for a corpus where one language dominates, the
    * rank would instead be computed per (lang, shard) with shard-offset
    * prefix sums, same plan family as b32's running totals.
    */
  def d15StratifiedSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("rn", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .withColumn("split",
        when(col("rn") <= expr("(n * 8) div 10"), "train")
          .when(col("rn") <= expr("(n * 9) div 10"), "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy("doc_id")
  }

  /** d16: TF-IDF top-5 terms per document. tf = term count in doc, df =
    * docs containing term, idf = ln(N/df). Two partial-aggregated
    * shuffles (tf on (doc,term), df on term) + one equi-join back on term;
    * N joins in as a broadcast 1-row aggregate — the intended
    * tiny-broadcast cross (same pattern as c3's query vector), never a
    * data-sized nested loop. Ranking is by the INTEGER triple
    * (tf desc, df asc, term) — deterministic on both engines — with the
    * double-valued score as payload; top-5 per doc plans as
    * WindowGroupLimit, so only ≤5 rows per doc survive to the sort.
    */
  def d16Tfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val nDf = docs.agg(count(lit(1)).as("n_docs"))
    val tf = docs
      .select(col("doc_id"), explode(GroupC.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("token"))
    tf.join(df, "token")
      .crossJoin(broadcast(nDf))
      .withColumn("tfidf",
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 4))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("doc_id"), col("token"), col("tf"), col("df"),
        col("tfidf"), col("rnk").cast("long").as("rnk"))
      .orderBy("doc_id", "rnk")
  }

  /** d17: per-(lang, source) quota sampling — cap every stratum at K docs,
    * keeping a deterministic md5-ranked subset (the "don't let one crawl
    * dominate the mix" pass; the same no-RNG rank as d15, so reruns and
    * retries keep identical corpora). The rank filter plans as
    * WindowGroupLimit: each partition locally drops beyond-K rows BEFORE
    * the shuffle, so the exchange carries at most K rows per stratum —
    * at 100 TB the shuffle is quota-bounded, not corpus-bounded.
    */
  def d17QuotaSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val w = Window.partitionBy("lang", "source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 5)
      .select(col("doc_id"), col("lang"), col("source"),
        col("rk").cast("long").as("rk"))
      .orderBy("doc_id")
  }

  /** d18: intra-document repetition score — the Gopher-style quality rule
    * "drop documents whose n-grams repeat" (Rae et al. 2021 §A1.1 use
    * duplicate n-gram fractions; this is the 3-gram variant). Pure per-row
    * higher-order functions over the token array (no explode, no shuffle
    * before the sort): shingle list → distinct count → duplicate fraction
    * as `floor(x·10⁴)` fixed-point (d6's engine-independent contract —
    * ROUND half-way behavior differs between engines, floor doesn't).
    */
  /** d18/d22's gate RULE, shared as expression pieces (not a frame
    * shape): the 3-gram shingle transform over a token-array column, the
    * duplicate-fraction fixed point, and the two thresholds. The batch
    * query and the streaming gate each keep their OWN plan shape —
    * sharing the frame was tried in round 12 and measured catastrophic
    * (a filter over the derived columns gets predicate-pushed below the
    * projection, INLINING the HOF chain ~5×: d18 0.3 → 28 s, d22 5.9 →
    * 121 s, d56 6.6 → 243 s at sf0.1 — the same trap pipelineStages'
    * barrier note documents) — but the RULE still has one definition, so
    * batch and live forms cannot drift on width/threshold/arithmetic.
    */
  private[graft] val RepMinTokens = 3
  private[graft] val RepThresholdFp = 1000L
  /** The word-3-gram shingle array over token-array column `ts`. */
  private[graft] def repShingles(ts: String): org.apache.spark.sql.Column =
    expr(s"transform(sequence(0, size($ts) - 3), " +
      s"i -> concat_ws(' ', $ts[i], $ts[i+1], $ts[i+2]))")
  /** The duplicate-3-gram fixed point ⌊(n−d)·10⁴/n⌋ from shingle stats. */
  private[graft] def repDupFp(nShingles: org.apache.spark.sql.Column,
      nDistinct: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    floor((nShingles - nDistinct) * lit(10000)
      / nShingles.cast("double")).cast("long")

  def d18Repetition(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    docs
      .select(col("doc_id"), GroupC.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= RepMinTokens)
      .select(col("doc_id"), repShingles("ts").as("sh"))
      .select(col("doc_id"),
        size(col("sh")).cast("long").as("n_shingles"),
        size(array_distinct(col("sh"))).cast("long").as("n_distinct"))
      .withColumn("dup_fp", repDupFp(col("n_shingles"), col("n_distinct")))
      .withColumn("repetitive", col("dup_fp") >= RepThresholdFp)
      .orderBy("doc_id")
  }

  /** d19: benchmark decontamination — flag training documents sharing any
    * exact 3-gram shingle with a held-out benchmark set (source `src0`
    * stands in for the eval corpus). The shape that scales: benchmark
    * shingles are a DISTINCT hashed-key set (in practice dwarfed by the
    * training corpus — broadcastable or at worst one small shuffle side);
    * the train-side probe is an inverted-index EQUI-join on the 8-byte
    * shingle hash followed by a per-doc count — a semi-join-with-count,
    * never a doc×doc pair explosion (contamination needs only "shares ≥ 1",
    * so candidate volume is bounded by index hits, the same argument as
    * d1's banding). Hash-equality stands in for string equality with the
    * usual ~n²/2⁶⁵ collision odds (c2's documented contract).
    */
  def d19Decontaminate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val sh = GroupC.shingles(spark, sfDir)
    val benchSh = sh
      .join(docs.filter(col("source") === "src0").select("doc_id"), "doc_id")
      .select("shingle").distinct()
    val train = docs.filter(col("source") =!= "src0")
    val shared = sh.join(train.select("doc_id"), "doc_id")
      .join(benchSh, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    train.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** d23: bloom-pruned decontamination — d19's exact semantics with a
    * [[graft.functions.BloomContains]] pre-filter on the corpus side, the
    * runtime-row-filter pattern a 100 TB decontamination pass actually
    * runs. d19 shuffles EVERY train shingle into the benchmark equi-join;
    * here a bloom filter built over the (small, by definition) benchmark
    * shingle set is embedded in the plan as a binary literal and probed at
    * scan speed inside whole-stage codegen, so the exchange feeding the
    * join carries only true matches plus ~1% false positives. The exact
    * equi-join on the same 64-bit shingle key then removes the false
    * positives — the result is bit-identical to d19 (same oracle), only
    * the physical plan differs. Filter size scales with the benchmark
    * set, not the corpus: 1% FP needs ~9.6 bits/key, so even a 100M-key
    * benchmark rides in a ~120 MB task-binary broadcast.
    */
  def d23BloomDecon(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val docs = Tables(spark, sfDir, "documents")
    // Shingle ONLY each side's documents (filter commutes with the per-doc
    // shingle computation): the two bloom-build actions and the probe pass
    // each tokenize just their slice, never the whole corpus.
    val benchSh = GroupC.shinglesOf(docs.filter(col("source") === "src0"))
      .select("shingle").distinct()
    val bloomLit = lit(graft.functions.BloomContains.serialized(benchSh, "shingle"))
    val train = docs.filter(col("source") =!= "src0")
    val shared = GroupC.shinglesOf(train)
      .filter(call_function(graft.functions.GraftFunctions.BloomName,
        bloomLit, col("shingle")))
      .join(benchSh, "shingle")
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    train.join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"), col("source"),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        (coalesce(col("n_shared"), lit(0L)) > 0).as("contaminated"))
      .orderBy("doc_id")
  }

  /** d24: fuzzy key matching — all pairs of customer names within edit
    * distance 1, via FastSS deletion-neighborhood blocking (Bocek et al.
    * 2007, public): two strings are within one edit only if they share a
    * 1-deletion variant (delete the differing position from both sides of
    * a substitution; the shorter string itself for an insert/delete), so
    * exploding each name into its ≤ len+1 DISTINCT variants and
    * equi-joining on the 64-bit variant hash yields LINEAR candidate
    * volume — no name×name cross join — with exact `levenshtein` verify
    * on candidates (the neighborhood test admits rare distance-2 pairs,
    * e.g. 'ab'/'ba'; verify removes them). The oracle brute-forces the
    * quadratic join in DuckDB — affordable at oracle scale only, which is
    * exactly the point of the blocking scheme.
    */
  def d24FuzzyJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("name"))
    // r22 (d57's shape): the variants frame ends in ONE vh-keyed
    // repartition — the self-join's key — so the join is co-partitioned
    // with no further exchange and AQE ReuseExchange collapses the two
    // identical subtrees into one runtime shuffle (the explode runs
    // once, fanned by the id repartition). Replaces the r21
    // lazy-checkpoint barrier, which under AQE materializes with
    // UnknownPartitioning and forces both join-side exchanges back.
    val par = spark.sparkContext.defaultParallelism
    val variants = cust
      .repartition(par, col("id"))
      .select(col("id"), col("name"),
        explode(array_distinct(expr(
          "transform(sequence(0, length(name)), i -> IF(i = 0, name, " +
            "concat(substr(name, 1, i - 1), substr(name, i + 1))))"))).as("v"))
      .select(col("id"), col("name"), xxhash64(col("v")).as("vh"))
      .repartition(par, col("vh"))
    val a = variants.toDF("ida", "name_a", "vh")
    val b = variants.toDF("idb", "name_b", "vh")
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), "vh")
      .filter(col("ida") < col("idb"))
      .select("ida", "name_a", "idb", "name_b").distinct()
      .filter(levenshtein(col("name_a"), col("name_b")) <= 1)
      .select(col("ida"), col("idb"),
        levenshtein(col("name_a"), col("name_b")).cast("long").as("dist"))
      .orderBy("ida", "idb")
  }

  /** d57: d24 at edit distance ≤ 2 — the same FastSS deletion-
    * neighborhood blocking one level deeper (Bocek et al. 2007, public):
    * two strings within 2 edits always share a variant reachable by ≤ 2
    * deletions from each (delete the aligned positions the ops touch),
    * so the neighborhood is the string + its 1-deletion + its C(len,2)
    * 2-deletion variants. The same brute-force quadratic oracle
    * verifies at sf0.01; FuzzyJoinGapBoundSpec pins the gap-bound
    * arithmetic against brute-force levenshtein on adversarial corpora.
    *
    * Round-13 affix factoring: `ed(P·x·S, P·y·S) = ed(x, y)` when every
    * string shares constant prefix P and suffix S, so the corpus-wide
    * common affixes (computed from ONE min/max aggregate — the common
    * prefix of all strings equals the common prefix of the lexicographic
    * min and max) are stripped BEFORE variant generation and the whole
    * FastSS pipeline runs on the tails. On templated corpora like
    * TPC-H's `Customer#`-prefixed names this collapses the neighborhood
    * from ~len²/2 ≈ 106 distinct variants/name (18 chars) to ~12 (9-digit
    * tails) and cuts the join + pair-dedup volume — the measured r12
    * bottleneck (17.4 M candidate pairs, 31.7 M join rows) — by ~4×;
    * on affix-free corpora plen = slen = 0 and the plan is unchanged.
    * The distance is computed on tails and is EXACTLY the full-name
    * distance, so the contract does not move.
    *
    * Round-13 position-list verification (the second half of FastSS that
    * r12 left on the table): each variant carries its deletion GAP list —
    * the scaffold position of every deleted char in v-coordinates
    * (gap(p_k) = p_k − k for the k-th smallest deleted position, so
    * adjacent deletions share a gap) — packed into one int
    * `c = da·2¹⁶ + g1·2⁸ + g2` (255 = none; strings ≤ 255 chars by the
    * generator's nature). For a join instance where a reaches v by gaps
    * Ga and b by Gb, `bound = da + db − |Ga ∩ Gb|` (multiset ∩) is the
    * cost of a concrete edit script (substitute at matched gaps, delete/
    * insert the rest), so ed ≤ bound; and the optimal script's own
    * witness instance — delete exactly the touched positions on both
    * sides — has bound = ed (each substitution lands on the same scaffold
    * gap on both sides). Hence MIN(bound) over a pair's instances IS the
    * edit distance: filtering instances to bound ≤ 2 before the dedup
    * and aggregating `min(bound)` replaces the 17.4 M-pair distinct, the
    * two name re-attach joins AND the levenshtein verify with one
    * partial-agg groupBy over only the true pairs (4.08 M at sf0.1).
    * The r12 plan's distinct was the measured bottleneck (10.3 s of the
    * 12 s pipeline); this lands at ~5 s in-process, bit-identical output
    * (diff-checked both directions at sf0.1 against the levenshtein
    * plan). The (v, gap-code) pairs are NOT string-deduped — different
    * deletion sets reaching the same string are distinct witnesses and
    * the min needs all of them (array_distinct here would lose the
    * optimal witness and break exactness).
    *
    * Collision contract (review finding, round 13): pair identity rides
    * the variants' 8-byte xxhash64 — the SAME trade c2/d1/d67 make for
    * their shingle and window hashes. Two UNRELATED names joining
    * requires two different variant strings colliding in 64 bits AND
    * the colliding instance's gap bound passing ≤ 2: expected false
    * pairs ≈ V²/2⁶⁵ — ~10⁻⁸ at this corpus (V ≈ 10⁶ variants), single
    * digits per run at a 10¹⁰-variant production corpus. Exactness is
    * therefore with-that-probability, not unconditional; a deployment
    * that cannot accept it re-attaches names and filters
    * `levenshtein(a, b, 2) = dist` on the OUTPUT pairs (output-sized
    * cost, the contract restored for ~1 s at sf0.1).
    *
    * Scale shape: one explode scan (≤ 1+len+C(len,2) variants a row over
    * the STRIPPED tail), one equi-join on the 8-byte variant hash, a
    * codegen'd int-only bound filter on the join stream, then one
    * partial-agg groupBy on narrow (id, id, int) rows — nothing is ever
    * name×name and no string travels past the variant hash. The affix
    * probe is a 2-string driver aggregate at any corpus size.
    */
  def d57FuzzyJoin2(spark: SparkSession, sfDir: String): DataFrame = {
    val custFull = Tables(spark, sfDir, "customer")
      .select(col("c_custkey").as("id"), col("c_name").as("fullname"))
    // corpus-wide common affixes from one tiny aggregate: the shared
    // prefix of ALL strings == shared prefix of the lexicographic
    // min/max pair (classic trick); the shared suffix likewise on the
    // reversed remainders (computed on the post-prefix remainder so an
    // all-identical corpus can't double-count overlapping affixes)
    // NOTE: the probe is EAGER — building this frame runs two tiny
    // aggregate jobs (a deliberate plan-time statistic, the same trade
    // AQE makes with runtime stats). Null-safe: an empty or all-NULL
    // table yields no affixes and the plan degrades to plain FastSS
    // (review finding, round 13).
    def shared(a: String, b: String): Int =
      if (a == null || b == null) 0
      else a.zip(b).takeWhile { case (x, y) => x == y }.length
    val mm = custFull.agg(min("fullname"), max("fullname")).head()
    val plen = shared(mm.getString(0), mm.getString(1))
    val mmS = custFull
      .select(reverse(expr(s"substr(fullname, ${plen + 1})")).as("r"))
      .agg(min("r"), max("r")).head()
    val slen = shared(mmS.getString(0), mmS.getString(1))
    val cust = custFull.select(col("id"),
      expr(s"substr(fullname, ${plen + 1}, " +
        s"length(fullname) - ${plen + slen})").as("name"))
    // gap-coded deletion variants in one generator expression: the name
    // itself (c = 0), the 1-deletions (gap i−1, low byte 255 sentinel so
    // a missing second gap can never false-match a real one), and the
    // i < j 2-deletions (gaps i−1 ≤ j−2, equal exactly when adjacent).
    // sequence guards keep the transforms total on len < 2 names
    // (sequence(1, 0) DESCENDS in Spark — the d26 footgun)
    val gen =
      "concat(array(named_struct('v', name, 'c', 0)), " +
      "IF(length(name) < 1, array(), " +
      "transform(sequence(1, length(name)), i -> named_struct('v', " +
      "concat(substr(name, 1, i - 1), substr(name, i + 1)), " +
      "'c', 65536 + (i - 1) * 256 + 255))), " +
      "flatten(transform(sequence(2, greatest(length(name), 2)), " +
      "j -> IF(j > length(name), array(), " +
      "transform(sequence(1, j - 1), i -> named_struct('v', " +
      "concat(substr(name, 1, i - 1), substr(name, i + 1, j - i - 1), " +
      "substr(name, j + 1)), 'c', 131072 + (i - 1) * 256 + (j - 2)))))))"
    // r22 (guide §2.4 "two operations keyed the same way share one
    // exchange"): the variants frame ends in ONE vh-keyed repartition —
    // exactly the self-join's key — so the join is co-partitioned with
    // no further exchange, and the two identical repartition subtrees
    // collapse into ONE runtime shuffle via AQE ReuseExchange: the
    // generator explode runs once, its map side fanned by the id
    // repartition (the single-row-group scan otherwise explodes as one
    // task), and the 32 reduce tasks carry the probe stream that AQE
    // used to coalesce onto 4. The r21 lazy-checkpoint barrier is gone:
    // under AQE a lazy localCheckpoint materializes with
    // UnknownPartitioning, which puts an exchange back under each side
    // (measured 3.7 s vs 2.0 s this way). A class-split join keyed on
    // (vh, gaps) — probe volume 67 M → 11.7 M — was built and measured
    // WORSE (3.2-5.0 s): filter pushdown below the keyed exchange
    // breaks subtree reuse, and requireAllClusterKeysForCoPartition
    // re-adds the exchanges; the bound filter fused into this single
    // join probe loop is cheaper than four scheduled join stages.
    val par = spark.sparkContext.defaultParallelism
    val variants = cust
      .repartition(par, col("id"))
      .select(col("id"), explode(expr(gen)).as("s"))
      .select(col("id"), xxhash64(col("s.v")).as("vh"), col("s.c").as("c"))
      .repartition(par, col("vh"))
    val a = variants.toDF("ida", "vh", "ca")
    val b = variants.toDF("idb", "vh", "cb")
    // ed bound per instance: da + db − |gap multiset ∩|, the ≤2-element
    // sorted-multiset intersection unrolled into int CASE arithmetic
    // (codegen'd; no strings, no arrays on the probe stream)
    val boundSql = """
      (ca div 65536) + (cb div 65536) - (CASE
        WHEN ca div 65536 = 0 OR cb div 65536 = 0 THEN 0
        WHEN ca div 65536 = 1 AND cb div 65536 = 1
          THEN IF((ca div 256) % 256 = (cb div 256) % 256, 1, 0)
        WHEN ca div 65536 = 1
          THEN IF((ca div 256) % 256 = (cb div 256) % 256
               OR (ca div 256) % 256 = cb % 256, 1, 0)
        WHEN cb div 65536 = 1
          THEN IF((ca div 256) % 256 = (cb div 256) % 256
               OR ca % 256 = (cb div 256) % 256, 1, 0)
        ELSE CASE
          WHEN (ca div 256) % 256 = (cb div 256) % 256
            THEN 1 + IF(ca % 256 = cb % 256, 1, 0)
          WHEN (ca div 256) % 256 = cb % 256
            OR ca % 256 = (cb div 256) % 256 THEN 1
          ELSE IF(ca % 256 = cb % 256, 1, 0) END
      END)"""
    a.hint("shuffle_hash").join(b.hint("shuffle_hash"), "vh")
      .filter(col("ida") < col("idb"))
      .withColumn("bnd", expr(boundSql))
      .filter(col("bnd") <= 2)
      .groupBy("ida", "idb").agg(min("bnd").cast("long").as("dist"))
      .orderBy("ida", "idb")
  }

  /** d26: deterministic source mixing — the weighted up/down-sampling step
    * that rebalances a multilingual corpus before training (e.g. Pile/ROOTS
    * style mixture weights). Every doc emits floor(w) copies plus one more
    * iff an md5-derived uniform falls below frac(w) — so a weight of 0.5
    * downsamples to half and 3.75 nearly quadruples, with NO RNG: reruns
    * and the DuckDB oracle reproduce the exact same copy set. The uniform
    * is the first 8 hex chars of md5 compared against the fraction as an
    * 8-hex-digit threshold (lowercase hex compares lexicographically =
    * numerically in both engines). Benchmark docs (src0) are excluded —
    * d19/d23's decontamination contract. Pure per-row compute + Generate;
    * nothing shuffles before the presentation sort, so the mixer runs at
    * scan bandwidth at any corpus size.
    */
  def d26MixUpsample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .filter(col("source") =!= "src0")
    // lang -> (integer copies, fractional-part threshold as 8 hex digits):
    // en 0.5, de 2.25, es 1.5, fr 1.0, zh 3.75.
    val wFloor = when(col("lang") === "en", 0)
      .when(col("lang") === "de", 2)
      .when(col("lang") === "es", 1)
      .when(col("lang") === "fr", 1)
      .when(col("lang") === "zh", 3)
      .otherwise(1)
    val fracHex = when(col("lang") === "en", "80000000")
      .when(col("lang") === "de", "40000000")
      .when(col("lang") === "es", "80000000")
      .when(col("lang") === "zh", "c0000000")
      .otherwise(null)
    val u8 = substring(md5(concat(col("doc_id").cast("string"), lit(":mix"))), 1, 8)
    val extra = when(fracHex.isNotNull && u8 < fracHex, 1).otherwise(0)
    docs
      .withColumn("n_copies", (wFloor + extra).cast("long"))
      .filter(col("n_copies") >= 1) // sequence(1, 0) would DESCEND in Spark
      .select(col("doc_id"), col("lang"),
        explode(expr("sequence(1L, n_copies)")).as("copy_id"),
        col("n_copies"))
      .orderBy("doc_id", "copy_id")
  }

  /** d27: embedding k-means clustering — semantic clustering / domain
    * discovery over the corpus embeddings ([[graft.operators.KMeans]]:
    * deterministic rank-spaced seeding, decimal-exact centroid means,
    * id-tie-broken argmin — reruns are bit-identical). No SQL oracle (an
    * iterative fixpoint is not a DuckDB one-liner); the driver records
    * rows-only, and KMeansSpec pins determinism, the Lloyd WCSS descent,
    * final-assignment self-consistency, and full coverage.
    */
  /** The corpus's shared k-means model (d27 + d39): trained once per
    * corpus and served from the memo (round 8 — d33's discipline; repeat
    * runs re-derive assignments in ONE scan with zero training actions;
    * deterministic fit ⇒ memo == retrain, pinned via the clearMemo seam).
    * k grows with the corpus at a CONSTANT ~64-vector target cluster size
    * (SemDeDup's k ∝ n regime) with a floor of 8 — so within-cluster
    * pairwise work in d39 stays LINEAR (n/64 clusters × 64² pairs = 64n).
    */
  private[queries] def corpusKMeans(spark: SparkSession, sfDir: String)
      : (DataFrame, graft.operators.KMeans.Model) = {
    val emb = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    // the sizing count is memoized with the model (review finding: a
    // memo-hit serving pass must not pay a corpus scan just to derive k);
    // lazy-holder publication so the count job never runs inside a CHM
    // bin lock (AnnTuning's round-4 discipline)
    val fresh = new Memo(() => emb.count())
    val prior = corpusNMemo.putIfAbsent(sfDir, fresh)
    val n = (if (prior != null) prior else fresh).value
    val k = math.max(8, math.min(4096, (n / 64).toInt))
    (emb, graft.operators.KMeans.fitMemoized(s"kmeans|$sfDir|$k", emb, k, iters = 3))
  }
  private val corpusNMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Memo[Long]]()

  def d27KMeans(spark: SparkSession, sfDir: String): DataFrame = {
    val (emb, model) = corpusKMeans(spark, sfDir)
    graft.operators.KMeans.assignWith(emb, model.centroids)
      .select("vec_id", "cluster").orderBy("vec_id")
  }

  /** d25: one-pass column profiling — the data-quality summary every
    * ingestion pipeline runs before training (row/null/distinct counts,
    * min/max, mean per column). ALL metrics for all profiled columns ride
    * one aggregate over one scan; the single result row is then exploded
    * into a row per column. The exact distinct counts make Catalyst plan
    * one Expand (×columns) feeding a two-level partial aggregate — at
    * 100 TB you swap them for `approx_count_distinct` (d12's HLL path)
    * and the Expand disappears; the means are computed over
    * `decimal(18,2)` so they are exact and summation-order independent
    * (double-sum averages wobble in the last ulp across partitionings).
    */
  def d25Profile(spark: SparkSession, sfDir: String): DataFrame = {
    val li = Tables(spark, sfDir, "lineitem")
    // (column, is numeric, normalize-to-date first)
    val cols = Seq(
      ("l_orderkey", true, false), ("l_quantity", true, false),
      ("l_extendedprice", true, false), ("l_returnflag", false, false),
      ("l_shipdate", false, true))
    def c(name: String, asDate: Boolean): Column =
      if (asDate) to_date(col(name)) else col(name)
    val aggs = count(lit(1)).as("n_rows") +: cols.flatMap {
      case (name, numeric, asDate) =>
        Seq(count(c(name, asDate)).as(s"cnt_$name"),
          countDistinct(c(name, asDate)).as(s"nd_$name"),
          min(c(name, asDate)).cast("string").as(s"min_$name"),
          max(c(name, asDate)).cast("string").as(s"max_$name")) ++
          (if (numeric)
            Seq(round(avg(col(name).cast("decimal(18,2)")).cast("double"), 2)
              .as(s"avg_$name"))
          else Nil)
    }
    li.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { case (name, numeric, _) =>
        struct(lit(name).as("col_name"), col("n_rows"),
          (col("n_rows") - col(s"cnt_$name")).as("n_null"),
          col(s"nd_$name").as("n_distinct"),
          col(s"min_$name").as("min_s"), col(s"max_$name").as("max_s"),
          (if (numeric) col(s"avg_$name") else lit(null).cast("double"))
            .as("avg_r"))
      }: _*)).as("p"))
      .select("p.*")
      .orderBy("col_name")
  }

  /** d20: sequence packing — the concat-and-chunk step an LM training
    * pipeline runs last: documents are laid out in a deterministic order
    * (md5 rank per lang shard, d15's no-RNG contract) and the
    * concatenated token stream is cut into fixed 4096-token packs; each
    * doc reports the pack it STARTS in and its offset there (docs may
    * straddle a boundary — that is the standard GPT-style packing, not a
    * bin-packing approximation). One window cumsum per lang shard — same
    * single-shuffle running-total plan family as b32; integer arithmetic
    * end to end.
    */
  def d20PackSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 4096L
    val docs = Tables(spark, sfDir, "documents")
    val w = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    docs
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
      .withColumn("start_pos",
        coalesce(sum("n_tokens").over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        expr(s"start_pos div $budget").as("pack_id"),
        expr(s"start_pos % $budget").as("pack_offset"))
      .orderBy("doc_id")
  }

  /** d21: int8 embedding quantization — the 4× storage/serving compression
    * an embedding store applies before ANN indexing. Symmetric per-vector
    * scheme: scale = max |v_i|, q_i = floor(v_i / scale · 127) ∈ [-127,
    * 127]. Everything is per-row array math (no shuffle before the sort),
    * and every step is engine-exact: float→double widening, one division,
    * one multiplication in a FIXED textual order (a·b/c vs a/c·b differ in
    * ulps!), then floor — never ROUND, whose half-way rule differs between
    * engines. The correctness gate hashes an md5 fingerprint of the int
    * array plus a fixed-point scale, so shuffle/compare rows stay small
    * (d8's discipline). Zero vectors keep a NULL fingerprint (no 0/0).
    */
  def d21QuantizeEmbed(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    e.select(col("vec_id"), col("label"),
        size(col("v")).cast("long").as("n_dims"),
        expr("array_max(transform(v, x -> abs(x)))").as("scale"),
        col("v"))
      .select(col("vec_id"), col("label"), col("n_dims"),
        floor(col("scale") * lit(1e6)).cast("long").as("scale_fp"),
        // gated on the FIXED-POINT scale, not the raw one: a vector with
        // 0 < max|v| < 1e-6 publishes scale_fp = 0, and a fingerprint
        // whose published scale can't dequantize it would be a
        // self-contradictory row — sub-resolution vectors are treated as
        // zero vectors (NULL fingerprint)
        when(floor(col("scale") * lit(1e6)) > 0,
          md5(array_join(
            expr("transform(v, x -> cast(cast(floor(x / scale * 127) as long) as string))"),
            ",").cast("binary")))
          .as("q_fp"))
      .orderBy("vec_id")
  }

  /** d22: the training-data pipeline END TO END as one declarative plan —
    * the north-star composition, each stage a proven operator:
    *
    *   1. quality gate: drop repetitive documents (d18's duplicate-3-gram
    *      rule; documents under 3 tokens have no score and drop too);
    *   2. near-dup dedup: drop every non-canonical member of a duplicate
    *      cluster (d1's verified pairs → connected components → keep the
    *      min-doc_id survivor, d14's rule);
    *   3. source capping: at most 5 survivors per (lang, source) stratum
    *      by md5 rank (d17's rule);
    *   4. stratified 80/10/10 split of what remains (d15's rule).
    *
    * Stage order matters and is the real pipeline's: gate before dedup
    * (a repetitive doc must not be a cluster's surviving canonical),
    * dedup before quota (duplicates must not consume a stratum's budget),
    * split last (fractions apply to the final corpus). Everything is one
    * lazily-composed DataFrame except the component-labeling rounds
    * (checkpointed, as always); the oracle replays the identical four
    * stages in SQL.
    *
    * Known duplication, accepted: the gate branch and the pair branch
    * each scan+tokenize documents (Spark reuses exchanges, not scan-side
    * projections across DAG branches) — ~1 s of the 5.4 s at sf0.1. A
    * long-lived cluster pipeline would persist the shared token frame
    * explicitly and unpersist after (the same policy note as
    * [[GroupC.pairOverlap]]).
    */
  /** d22's stage frames (gate survivors, post-dedup kept, post-quota
    * capped) — shared by the declared pipeline query and d56's funnel.
    * Under the drivers' [[graft.operators.StageCache]] policy each stage
    * is persisted once per corpus and every later consumer (d22's own
    * second reference to gate, d56's six counts, repeated bench passes)
    * reads the materialization — the round-12 verdict's "long-lived-
    * cluster persist policy" closing the measured d22+d56 recompute pair;
    * without the policy (specs) the frames stay raw declarative plans
    * and the AQE exchange-reuse pin keeps covering the runtime sharing.
    */
  private def pipelineStages(spark: SparkSession,
      sfDir: String): (DataFrame, DataFrame, DataFrame) = {
    import graft.operators.StageCache
    val docs = Tables(spark, sfDir, "documents")
    // The tiny groupBy is an OPTIMIZER BARRIER, not an aggregation need
    // (doc_id is unique): a filter on `repetitive` written directly over
    // d18's projection chain gets predicate-pushed below it, INLINING the
    // whole tokenize+3-gram expression ~5x into one Filter evaluated
    // before the projections recompute it again — measured 38 s for this
    // stage at sf0.1 vs ~1 s with the barrier. Predicates cannot push
    // through an aggregate, so the HOFs evaluate once per doc and the
    // barrier's shuffle carries one (id, bool) row per doc.
    val gate = StageCache.persisted(s"$sfDir#d22_gate") {
      d18Repetition(spark, sfDir)
        .groupBy("doc_id").agg(first("repetitive").as("repetitive"))
        .filter(!col("repetitive"))
        .select("doc_id")
    }
    val kept = StageCache.persisted(s"$sfDir#d22_kept") {
      // "gate before dedup" is enforced by restricting the pair graph to
      // gated endpoints BEFORE labeling: a pair's Jaccard doesn't depend
      // on other documents, so pairs-among-survivors ≡ rerunning d1 on
      // the gated corpus. Without this, a cluster whose min-id canonical
      // is repetitive would lose every member (the canonical to the gate,
      // the rest to dupDrops) instead of keeping its best clean member.
      val gatedPairs = d1Pairs(spark, sfDir).select("doc_a", "doc_b")
        .join(gate.withColumnRenamed("doc_id", "doc_a"), "doc_a")
        .join(gate.withColumnRenamed("doc_id", "doc_b"), "doc_b")
      val labels = graft.operators.ConnectedComponents
        .label(gatedPairs, src = "doc_a", dst = "doc_b")
      val dupDrops = labels.filter(col("component") =!= col("id"))
        .select(col("id").as("doc_id"))
      docs.join(gate, "doc_id")
        .join(dupDrops, Seq("doc_id"), "left_anti")
    }
    val wQuota = Window.partitionBy("lang", "source")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    val capped = StageCache.persisted(s"$sfDir#d22_capped") {
      kept
        .withColumn("rk", row_number().over(wQuota))
        .filter(col("rk") <= 5)
    }
    (gate, kept, capped)
  }

  def d22PipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val (_, _, capped) = pipelineStages(spark, sfDir)
    val wSplit = Window.partitionBy("lang")
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
    capped
      .withColumn("rn", row_number().over(wSplit))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
      .withColumn("split",
        when(col("rn") <= expr("(n * 8) div 10"), "train")
          .when(col("rn") <= expr("(n * 9) div 10"), "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("source"), col("split"))
      .orderBy("doc_id")
  }

  /** d56: the pipeline FUNNEL — d22's observability twin, the "where did
    * my data go" audit every curation run publishes next to its output:
    * one row per stage (gate, dedup, quota) with documents in, documents
    * out, and the drop count. Stage boundaries are exactly d22's frames
    * (shared [[pipelineStages]]), so the funnel can never disagree with
    * the pipeline it describes; the split stage is absent because it
    * drops nothing by construction.
    *
    * Scale shape: three single-row count aggregates over frames the
    * pipeline already defines — each is one partial-agg scan, the
    * report is 3 rows at any corpus size.
    */
  def d56PipelineFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val (gate, kept, capped) = pipelineStages(spark, sfDir)
    def n(df: DataFrame, as: String) = df.agg(count(lit(1)).as(as))
    val row1 = n(docs, "docs_in").crossJoin(n(gate, "docs_out"))
      .select(lit("1_gate").as("stage"), col("docs_in"), col("docs_out"))
    val row2 = n(gate, "docs_in").crossJoin(n(kept, "docs_out"))
      .select(lit("2_dedup").as("stage"), col("docs_in"), col("docs_out"))
    val row3 = n(kept, "docs_in").crossJoin(n(capped, "docs_out"))
      .select(lit("3_quota").as("stage"), col("docs_in"), col("docs_out"))
    row1.unionByName(row2).unionByName(row3)
      .withColumn("dropped", col("docs_in") - col("docs_out"))
      .orderBy("stage")
  }

  /** d31: d14's duplicate clusters via STAR CONTRACTION — the scale path
    * the min-propagation operator's scaladoc names. Propagation converges
    * in O(diameter) rounds (fine for tight near-dup clusters); large-star/
    * small-star alternation ([[graft.operators.ConnectedComponents
    * .labelByStars]], Kiveris et al. SoCC'14) converges in O(log n) on ANY
    * topology, so adversarially chained duplicate graphs stop being a
    * round-count hazard. Identical output contract — same oracle as d14.
    */
  def d31DedupClustersStar(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = d1Pairs(spark, sfDir).select("doc_a", "doc_b")
    // r22 (r21 verdict task 1): the r21 StageCache entry here was
    // SINGLE-consumer — d31 is its only reader, so the cache shared
    // nothing across queries and only memoised d31's own near-final
    // labels across bench passes (measurement, not speed). Dropped; the
    // labels frame is localCheckpoint-backed per execution inside
    // labelByStars, so the double reference below (sizes + join) still
    // computes the contraction exactly once per run.
    val labels = graft.operators.ConnectedComponents
      .labelByStars(pairs, src = "doc_a", dst = "doc_b")
    val sizes = labels.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    labels.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  /** d33: PQ-compressed retrieval — the product-quantization serving path
    * (the FAISS-style IVF/PQ family's second half, composing d27's
    * deterministic k-means with d21's compression story). Vectors are
    * L2-normalized (so inner product = cosine), cut into 4 subspaces of
    * dim/4, and each subspace is vector-quantized against a 16-entry
    * codebook trained by [[graft.operators.KMeans]] on that slice — a
    * vector becomes a 4-byte CODE (4×4 bits of information vs 256 bytes
    * of floats, the 64× store shrink an embedding-serving tier runs on).
    * Retrieval is the standard two-stage plan: (1) ADC shortlist — each
    * query scores the RECONSTRUCTED (codebook-decoded) vectors, top-C per
    * query via WindowGroupLimit; (2) exact rerank — true vectors are
    * fetched for the C candidates only and exact cosine picks the top-5.
    * At scale, stage 1 touches only codes + the model-sized codebooks
    * (broadcast as plan literals) and stage 2's vector fetch is
    * shortlist-bounded — full vectors never join against the whole corpus.
    * Deterministic end to end (k-means seeding/means/argmin are d27's
    * no-RNG contract); approximate ⇒ rows-only + PipelineOpsSpec pins
    * top-5 overlap vs d3 and the 4-bit code range.
    */
  def d33AnnPq(spark: SparkSession, sfDir: String): DataFrame =
    annPq(Tables(spark, sfDir, "embeddings"), spark, s"pq|$sfDir")

  /** d33's body on an arbitrary (vec_id, embedding: array<float>) frame —
    * reusable in specs (the clustered-regime pin builds its own corpus,
    * the same pattern as [[annLsh]]). `key` scopes the memoized codebook
    * model ([[graft.operators.PqIndex]]) to the corpus.
    */
  private[queries] def annPq(e: DataFrame, spark: SparkSession, key: String,
      M: Int = 4, K: Int = 16, C: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val nv = pqNormalized(e)
    // one-time training per corpus (memoized; the codebooks are
    // driver-sized), then code assignment + reconstruction FUSE into a
    // single projection over codebook literals — a bench/serving pass
    // after the first never runs a training job (AnnTuning's discipline)
    val model = graft.operators.PqIndex.train(key, nv, M, K, iters = 2)
    val q = nv.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("nvec").cast("array<double>").as("qv"))
    val adc = nv.select(col("vec_id").as("nn_id"), pqReconExpr(model, M).as("rv"))
      .join(broadcast(q), col("nn_id") =!= col("qid"))
      .select(col("qid"), col("nn_id"), GroupC.cosine("rv", "qv").as("adc"))
    pqShortlistRerank(adc, nv, q, C)
  }

  /** L2-normalized (vec_id, nvec) frame (zero vectors can't be normalized
    * or cosine-ranked — dropped, matching their null-cosine rank in d3).
    * Shared by d33 and d60.
    */
  private def pqNormalized(e: DataFrame): DataFrame = {
    val norm = sqrt(aggregate(
      zip_with(col("embedding"), col("embedding"),
        (x, y) => x.cast("double") * y.cast("double")),
      lit(0d), (acc, x) => acc + x))
    e.select(col("vec_id"), col("embedding"), norm.as("nrm"))
      .filter(col("nrm") > 0)
      .select(col("vec_id"),
        expr("transform(embedding, x -> float(x / nrm))").as("nvec"))
  }

  /** Codebook m as ONE plan literal (`array<array<double>>`). r21: the
    * previous per-element `array(lit…)` construction put K·sub literal
    * NODES per subspace into the plan (4×16×16 ≈ 1k leaves before the
    * per-entry HOF lambdas) — at bench scale the DRIVER's optimize +
    * canonicalize passes over that tree dominated d33/d60 (the d27
    * round-8 lesson: literal-tree size is driver plan time). A single
    * `typedLit` is one leaf whatever K·sub is.
    */
  private def pqBookLit(model: graft.operators.PqIndex.Model,
      m: Int): org.apache.spark.sql.Column =
    typedLit(model.codebooks(m).map(_.toSeq).toSeq)

  /** PQ code assignment over codebook literals: per subspace, the
    * argmin-by-(d2, j) code (KMeans.assign's exact tie-break) from the
    * `nvec` column — an M-int array, the 4-byte payload a PQ store
    * shuffles and persists. Shared by d33 (fused with decode) and d60
    * (shuffled through the candidate join). r21: the argmin runs as the
    * native [[graft.functions.NearestCentroid]] expression (d27's
    * serving kernel — one fused codegen loop, constant plan size in K;
    * its strict-< earliest-minimum rule is EXACTLY the old
    * `sort_array(struct(d2, j))(0)` tie-break, pinned bit-identical in
    * NearestCentroidSpec) instead of K struct(aggregate∘zip_with)
    * candidates per subspace.
    */
  private def pqCodesExpr(model: graft.operators.PqIndex.Model,
      M: Int): org.apache.spark.sql.Column =
    array((0 until M).map { m =>
      val slice = expr(
        s"transform(slice(nvec, ${m * model.sub + 1}, ${model.sub}), " +
          "x -> cast(x AS double))")
      org.apache.spark.sql.functions.call_function(
          graft.functions.GraftFunctions.NearestCentroidName,
          slice, pqBookLit(model, m))
        .getField("cluster")
    }: _*)

  /** PQ decode: codebook lookup of an M-int `codes` column, concat into
    * the reconstructed vector. The codebooks ride as plan literals
    * (one [[pqBookLit]] leaf per subspace — r21).
    */
  private def pqDecodeExpr(model: graft.operators.PqIndex.Model, M: Int,
      codes: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat((0 until M).map { m =>
      element_at(pqBookLit(model, m), codes(m) + 1)
    }: _*)

  /** PQ encode+decode fused into one projection — d33's full-scan ADC
    * shape, where nothing shuffles between encode and decode.
    */
  private def pqReconExpr(model: graft.operators.PqIndex.Model,
      M: Int): org.apache.spark.sql.Column =
    pqDecodeExpr(model, M, pqCodesExpr(model, M))

  /** The PQ retrieval tail shared by d33 and d60: ADC top-C shortlist per
    * query, then exact cosine rerank of the shortlist only — full vectors
    * never join against anything bigger than C rows per query.
    */
  private def pqShortlistRerank(adc: DataFrame, nv: DataFrame,
      q: DataFrame, C: Int): DataFrame = {
    val wAdc = Window.partitionBy("qid").orderBy(col("adc").desc, col("nn_id"))
    val shortlist = adc.withColumn("rc", row_number().over(wAdc))
      .filter(col("rc") <= C)
      .select("qid", "nn_id")
    val exact = shortlist
      .join(nv.select(col("vec_id").as("nn_id"),
        col("nvec").cast("array<double>").as("nv")), "nn_id")
      .join(q, "qid")
      .select(col("qid"), col("nn_id"), GroupC.cosine("nv", "qv").as("s"))
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("nn_id"))
    exact.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
      .select(col("qid"), col("nn_id"), round(col("s"), 6).as("sim"),
        col("rn").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** d60: IVF-PQ — the composed FAISS-style serving plan, the production
    * shape a billion-vector tier actually deploys: d11's coarse cell
    * probe bounds WHICH vectors each query touches, d33's 4-byte ADC
    * codes bound WHAT is read per touched vector, and the exact rerank
    * touches full floats only for the top-C shortlist. Both models are
    * REUSED from the corpus's standing artifacts (the tuned IVF
    * (stride, probes) under `ivf|…`, the PQ codebooks under `pq|…` —
    * AnnTuning/PqIndex memo + ModelCache), so composing them trains
    * NOTHING new: the same lifecycle story as d54, at query time.
    *
    * Scale shape: stage 1 is candidate-bounded (probes/⌈n/stride⌉ of the
    * corpus per query) AND code-bounded (reconstruction reads 4-byte
    * codes + broadcast codebooks — full vectors never stream through the
    * ADC join); stage 2 is shortlist-bounded. Approximate twice over
    * (cell miss + PQ distortion) ⇒ rows-only; overlap vs d11/d3 and the
    * candidate bound pinned in PipelineOpsSpec.
    */
  def d60AnnIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
    annIvfPq(e, spark, s"ivf|$sfDir", s"pq|$sfDir")
  }

  /** d60's body on an arbitrary (vec_id, embedding) frame — reusable in
    * specs. `stride`/`probes` default to the corpus's tuned IVF config.
    */
  private[queries] def annIvfPq(e: DataFrame, spark: SparkSession,
      ivfKey: String, pqKey: String, M: Int = 4, K: Int = 16,
      C: Int = 50): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val ed = e.select(col("vec_id"),
      col("embedding").cast("array<double>").as("v"))
    val tuned = graft.operators.AnnTuning.tunedIvf(spark, ed, ivfKey)
    val cand = ivfCandidatePairs(ed, spark,
        tuned.config.stride, tuned.config.probes)
      .filter(col("qid") < 50)
    val nv = pqNormalized(e)
    val model = graft.operators.PqIndex.train(pqKey, nv, M, K, iters = 2)
    val q = nv.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("nvec").cast("array<double>").as("qv"))
    // the CODES (an M-int array — 4 bytes in a real code store) are what
    // shuffles through the candidate join; reconstruction happens AFTER,
    // from the broadcast codebook literals — so full-width vectors never
    // cross the exchange regardless of which side broadcasts
    val adc = cand
      .join(nv.select(col("vec_id").as("nn_id"),
        pqCodesExpr(model, M).as("codes")), "nn_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("nn_id"),
        GroupC.cosine(pqDecodeExpr(model, M, col("codes")), col("qv")).as("adc"))
    pqShortlistRerank(adc, nv, q, C)
  }

  /** d35: FILTERED vector search — exact top-5 cosine neighbors per query
    * among vectors satisfying a metadata predicate (label = 1), the
    * "vector search with a WHERE clause" every serving API exposes. The
    * predicate applies to the INDEX side before any distance work
    * (pre-filtering — the exact-search baseline; an ANN index would
    * choose pre- vs post-filter by predicate selectivity, d4/d13's
    * candidate machinery unchanged). Plan shape is d3's: bounded query
    * side broadcast, filtered corpus streams once, rank-limited window.
    * Queries keep their own labels — a query vector need not satisfy the
    * predicate to search under it.
    */
  def d35FilteredKnn(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val sims = e.filter(col("label") === 1)
      .join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        GroupC.cosine("v", "qv").as("s"))
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("nn_id"))
    sims.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .select(col("qid"), col("nn_id"), round(col("s"), 6).as("sim"),
        col("rn").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** Filtered-ANN policy thresholds (see [[filteredAnnLsh]]). */
  private[queries] val FilteredAnnBruteMax = 0.02
  private[queries] val FilteredAnnPreMax = 0.5

  /** How a filtered vector search composes a metadata predicate with the
    * ANN machinery, by measured predicate selectivity — the decision every
    * serving API makes per query (d35's docs deferred it; round 8 codes it):
    *   - `brute` (≤ 2% match): the subset is so small an EXACT scan over
    *     it (d35/d3's broadcast plan) beats any index work — pre-filtering
    *     degenerates to brute force, the standard serving-path answer.
    *   - `pre` (≤ 50%): bucket ONLY the matching vectors with their own
    *     tuned banding; every candidate satisfies the predicate by
    *     construction. A post-filter here would starve: most of a query's
    *     bucket-mates fail the predicate, leaving ≪ k survivors.
    *   - `post` (> 50%): probe the corpus-tuned index unchanged and apply
    *     the predicate to CANDIDATES before the exact rerank. Models the
    *     shared-index serving path — one index amortized over every loose
    *     predicate, no per-predicate re-index.
    */
  private[queries] def filteredAnnPolicy(selectivity: Double): String =
    if (selectivity <= FilteredAnnBruteMax) "brute"
    else if (selectivity <= FilteredAnnPreMax) "pre"
    else "post"

  /** Filtered approximate top-k on a (vec_id, matches, v) frame — d36's
    * body, reusable in specs. `matches` is the evaluated metadata
    * predicate; queries (selected by `queryPred`) need not satisfy it.
    * Selectivity is ONE tiny aggregate (at serving scale: a catalog stat
    * or a sampled count); the policy then picks the plan above.
    */
  private[queries] def filteredAnnLsh(e: DataFrame, spark: SparkSession,
      key: String, k: Int = 5,
      queryPred: Column = col("vec_id") < 50): DataFrame =
    filteredAnnCore(
      e.filter(queryPred).select(col("vec_id").as("qid"), col("v").as("qv")),
      e, spark, key, k, selectivity(e))

  /** The measured fraction of `e` satisfying its `matches` predicate —
    * ONE tiny aggregate (at serving scale: a catalog stat). Computed once
    * per corpus by batch callers; a streaming server computes it once at
    * START (the static side never changes mid-stream).
    */
  private[graft] def selectivity(e: DataFrame): Double = {
    val r = e.agg(count(lit(1)), count(when(col("matches"), lit(1)))).collect()(0)
    r.getLong(1).toDouble / math.max(r.getLong(0), 1L)
  }

  /** Policy-routed filtered top-k with an EXPLICIT query frame (qid, qv) —
    * [[filteredAnnLsh]]'s body, also the per-micro-batch worker of
    * [[graft.streaming.StreamSearch.servePolicy]].
    */
  private[graft] def filteredAnnCore(q: DataFrame, e: DataFrame,
      spark: SparkSession, key: String, k: Int, sel: Double): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    graft.functions.GraftFunctions.register(e.sparkSession)
    // under foreachBatch the QUERY frame is bound to a session cloned at
    // stream start (clones copy the registry, later registrations don't
    // propagate) — the pre/post branches analyze keyed(q) against it
    graft.functions.GraftFunctions.register(q.sparkSession)
    val policy = filteredAnnPolicy(sel)
    val sims = policy match {
      case "brute" =>
        e.filter(col("matches"))
          .join(broadcast(q), col("vec_id") =!= col("qid"))
          .select(col("qid"), col("vec_id").as("nn_id"),
            GroupC.cosine("v", "qv").as("s"))
      case _ =>
        val indexSide =
          (if (policy == "pre") e.filter(col("matches")) else e)
            .select("vec_id", "v")
        // top-5 serving: rank-2..5 neighbors collide less readily than
        // the top-1 pairs the estimator scores, so tune with headroom
        // (0.95 top-1 target backs the ≥ 0.9 top-5 overlap pin)
        val tuned = graft.operators.AnnTuning.tunedLsh(
          spark, indexSide, s"$key|$policy", recallTarget = 0.95)
        def keyed(df: DataFrame, p: Int) = df.select(col("vec_id"),
          explode(expr(
            s"${graft.functions.GraftFunctions.LshProbeKeysName}" +
              s"(v, ${tuned.config.tables}, ${tuned.config.bits}, $p)"))
            .as("bkey"))
        val index = graft.operators.AnnTuning.capBucketsQualified(
          keyed(indexSide, 0), graft.operators.AnnTuning.effectiveCap(tuned))
        val cand0 = keyed(q.select(col("qid").as("vec_id"), col("qv").as("v")),
            tuned.config.probes)
          .as("x")
          .join(index.as("y"),
            col("x.bkey") === col("y.bkey") &&
              col("x.vec_id") =!= col("y.vec_id"))
          .select(col("x.vec_id").as("qid"), col("y.vec_id").as("nn_id"))
          .distinct()
        // post-filter: the shared index knows nothing of the predicate —
        // drop non-matching candidates BEFORE any distance work
        val cand =
          if (policy == "post")
            cand0.join(
              e.filter(col("matches")).select(col("vec_id").as("nn_id")), "nn_id")
          else cand0
        cand
          .join(q, Seq("qid"))
          .join(e.select(col("vec_id").as("nn_id"), col("v").as("nv")), Seq("nn_id"))
          .select(col("qid"), col("nn_id"), GroupC.cosine("nv", "qv").as("s"))
    }
    val w = Window.partitionBy("qid").orderBy(col("s").desc, col("nn_id"))
    sims.withColumn("rn", row_number().over(w)).filter(col("rn") <= k)
      .select(col("qid"), col("nn_id"), round(col("s"), 6).as("sim"),
        col("rn").cast("long").as("rn"))
      .orderBy("qid", "rn")
  }

  /** d36: FILTERED approximate vector search — d35's exact filtered top-5
    * with the policy-routed ANN machinery. The declared predicate
    * (label = 1, ~9% of the corpus) routes to the PRE-FILTER branch:
    * tuned banding over the matching vectors only. Approximate ⇒
    * rows-only; PipelineOpsSpec pins the policy thresholds, the measured
    * top-5 overlap vs d35's exact answer, and that each branch returns
    * only in-predicate neighbors.
    */
  def d36FilteredAnn(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), (col("label") === 1).as("matches"),
        col("embedding").cast("array<double>").as("v"))
    filteredAnnLsh(e, spark, s"fann|$sfDir")
  }

  /** d37: d15's stratified split via SHARDED rank — the dominant-language
    * escape d15/d20 document, coded ([[graft.operators.ShardedOrder]]):
    * rank per (lang, leading-md5-nibble shard) + shard-offset prefix sums
    * instead of one window partition per lang. Bit-identical to d15 by the
    * total-order decomposition argument (and pinned so in
    * PipelineOpsSpec), same DuckDB oracle verbatim — the d30-vs-c7
    * relationship: same contract, the physical plan that survives a corpus
    * where one language is most of the data.
    */
  def d37SplitSharded(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    graft.operators.ShardedOrder.rankAndPrefixSum(
      docs.select("doc_id", "lang"), Seq("lang"),
      md5(col("doc_id").cast("string")), col("doc_id"))
      .withColumn("split",
        when(col("rn") <= expr("(n * 8) div 10"), "train")
          .when(col("rn") <= expr("(n * 9) div 10"), "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("split"))
      .orderBy("doc_id")
  }

  /** d38: BPE merge-pair statistics — one round of byte-pair-encoding
    * vocabulary induction (Sennrich et al. 2016, public): count adjacent
    * character pairs across the corpus weighted by word frequency; the top
    * pair is the next merge a tokenizer trainer would make. The scale
    * trick: pair counting runs over the DISTINCT-WORD frame (vocabulary-
    * sized — sublinear in the corpus) with each word's corpus count as the
    * weight, never over the raw token stream — one corpus-bounded
    * partial-agg shuffle builds the word counts, everything after is
    * vocabulary-bounded. The alphabet² pair frame then reduces to top-20
    * by (cnt desc, p1, p2), integer arithmetic end to end.
    */
  def d38BpePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val words = docs
      .select(explode(GroupC.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wc"))
    // Spark's sequence(1, n) DESCENDS for n < 1 — the length gate is
    // load-bearing, not just an optimization (d29 hit the same edge)
    val pairs = words.filter(length(col("w")) >= 2)
      .select(col("wc"), explode(expr(
        "transform(sequence(1, length(w) - 1), " +
          "i -> struct(substring(w, i, 1) AS p1, substring(w, i + 1, 1) AS p2))"))
        .as("p"))
      .groupBy(col("p.p1").as("p1"), col("p.p2").as("p2"))
      .agg(sum("wc").as("cnt"))
    val top = pairs.orderBy(col("cnt").desc, col("p1"), col("p2")).limit(20)
    top.withColumn("rnk", row_number().over(
        Window.orderBy(col("cnt").desc, col("p1"), col("p2"))).cast("long"))
      .select("p1", "p2", "cnt", "rnk")
      .orderBy("rnk")
  }

  /** d39: SemDeDup — semantic deduplication via k-means blocking (Abbas
    * et al. 2023, arXiv:2303.09540, public): cluster the embeddings
    * (d27's deterministic [[graft.operators.KMeans]]), then inside each
    * cluster drop every vector cosine-similar (≥ τ) to a smaller-id
    * vector — d9's drop rule with the cluster id as the blocking key.
    * Candidate volume falls from n² to Σ min(|c|², |c|·[[SemDedupMaxCluster]])
    * (oversized clusters hash-sub-shard, see [[semDedupPairs]]) while keeping
    * the drops near-dup pipelines care about: semantic duplicates co-locate
    * in embedding clusters (the paper's premise — pinned on a clustered
    * corpus in PipelineOpsSpec; on THIS weakly-correlated corpus the
    * cross-cluster misses are measured there too). Iterative-fixpoint
    * clustering ⇒ no SQL oracle (d27's contract): rows-only + pins
    * (subset-of-d9, determinism, clustered-regime recall).
    */
  def d39SemDedup(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val (emb, model) = corpusKMeans(spark, sfDir)
    // semDedupDrops references the assignment three times (pair join both
    // sides + anti-join); localCheckpoint truncates the crossJoin+agg
    // lineage so it executes ONCE (d14's checkpoint discipline)
    val assign = graft.operators.KMeans.assignWith(emb, model.centroids)
      .select(col("vec_id"), col("cluster"),
        col("embedding").cast("array<double>").as("v"))
      .localCheckpoint(true)
    semDedupDrops(assign)
  }

  /** Per-cluster membership ceiling before d39 sub-shards the pair join —
    * 4× the k ∝ n 64-vector target (round-8 verdict: the cap must bind by
    * CONSTRUCTION, not by the average), so normal clusters keep the full
    * quadratic-within-cluster comparison and only outliers shard.
    */
  private[queries] val SemDedupMaxCluster = 256

  /** d39's candidate pair frame with the big-bucket discipline of
    * [[graft.operators.AnnTuning.capBuckets]] applied to CLUSTERS: a
    * cluster above `maxCluster` members is hash-split into
    * `ceil(|c|/maxCluster)` sub-shards (deterministic `xxhash64(vec_id)`
    * residue) and pairs form only within a sub-shard. Per-cluster pair
    * volume is then ≤ |c|·maxCluster by construction — LINEAR in the
    * cluster size — so one adversarially dense embedding region (near-
    * identical spam, exactly what SemDeDup targets) can no longer
    * concentrate |c|² work on a single task. The price is cross-shard
    * misses inside oversized clusters only; a dense cluster's members are
    * mutually similar, so each shard still finds witnesses for its own
    * rows (pinned on a synthetic dense cluster in PipelineOpsSpec).
    * Aliased `a` (drop side, larger vec_id) and `b` (witness side).
    */
  private[queries] def semDedupPairs(assign: DataFrame,
      maxCluster: Int = SemDedupMaxCluster): DataFrame = {
    val wc = Window.partitionBy("cluster")
    // integer-exact ceil-div (no double log/div at exact multiples);
    // the cluster-count window rides the same hash partitioning the pair
    // join needs, so the guard adds no extra exchange on the hot path
    val sharded = assign
      .withColumn("__cn", count(lit(1)).over(wc))
      .withColumn("__shard",
        pmod(xxhash64(col("vec_id")),
          expr(s"(__cn + ${maxCluster - 1}) div $maxCluster")))
      .drop("__cn")
    sharded.as("a").join(sharded.as("b"),
      col("a.cluster") === col("b.cluster") &&
        col("a.__shard") === col("b.__shard") &&
        col("a.vec_id") > col("b.vec_id"))
  }

  /** SemDeDup's within-cluster drop pass on a (vec_id, cluster, v) frame —
    * d39's body, reusable in specs on synthetic clustered corpora.
    * Survivors only; τ = 0.3 mirrors d9 so the subset pin is meaningful.
    */
  private[queries] def semDedupDrops(assign: DataFrame,
      maxCluster: Int = SemDedupMaxCluster): DataFrame = {
    val dropped = semDedupPairs(assign, maxCluster)
      .filter(GroupC.cosine("a.v", "b.v") >= 0.3)
      .select(col("a.vec_id").as("vec_id")).distinct()
    assign.join(dropped, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cluster").cast("long").as("cluster"))
      .orderBy("vec_id")
  }

  /** d40: document-length histogram — the distribution summary every
    * corpus report leads with (how long are the documents, per language),
    * bucketed on a log2 scale so 1-token noise and 100k-token books land
    * in readably-spaced bins. The bucket is INTEGER-EXACT on both engines:
    * `length(bin(n))` = floor(log2(n)) + 1 via the binary-string length —
    * never floor(log2(x)) on doubles, whose libm rounding at exact powers
    * of two is engine-specific (d6/d21's no-float-boundary contract).
    * One partial-agg shuffle of (lang, bucket) cells; scan-bandwidth.
    */
  def d40LengthHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    docs
      .select(col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n"))
      .filter(col("n") >= 1)
      .withColumn("bucket", length(bin(col("n"))).cast("long"))
      .groupBy("lang", "bucket")
      .agg(count(lit(1)).as("n_docs"), sum("n").as("tok_sum"))
      .orderBy("lang", "bucket")
  }

  /** d34: INCREMENTAL near-dup dedup — the production shape: a new crawl
    * batch (sources src17–19 stand in for "this week's data") is deduped
    * AGAINST the already-ingested base without re-deduping the base. A
    * delta doc survives unless it near-duplicates (Jaccard ≥ 0.6, c2's
    * threshold as the EXACT integer cross-multiplication 8c ≥ 3(nd+no))
    * any base document (the base is canonical by definition — either
    * direction) or any smaller-id delta document (first-arrival-wins
    * inside the batch, [[graft.streaming.StreamingDedup]]'s rule in batch
    * form). Scale shape is d19's: candidate generation probes the
    * inverted index with DELTA shingles only — and, since round 9, only
    * each delta doc's ⌊2n/5⌋+1 globally-RAREST shingles
    * ([[incrementalProbes]], pigeonhole-complete at J ≥ 0.6), so one hot
    * shingle no longer fans every delta doc out to most of the corpus.
    * The join stays bounded by the batch — the base corpus streams once
    * and is never self-joined (c2 re-run on base ∪ delta would redo the
    * full corpus²-shaped work every week). Verification is d30's
    * candidate-restricted common-count join, bit-identical to full-probe
    * candidate generation (the prefix filter is lossless by pigeonhole).
    */
  def d34DedupIncremental(spark: SparkSession, sfDir: String): DataFrame = {
    // Measured NON-path: d23's bloom trick with the sides swapped (bloom
    // the delta's shingles, prune the corpus side before the exchange)
    // costs 3.9 → 6.1 s here — this corpus's tiny shared vocabulary means
    // the delta's shingle set covers most of the corpus shingle space, so
    // the filter prunes nothing and its build action is pure overhead. At
    // a realistic vocabulary (web-scale shingle sparsity) it's the
    // drop-in next step; see SURVEY §7.3.
    val docs = Tables(spark, sfDir, "documents")
    val deltaPred = col("source").isin("src17", "src18", "src19")
    incrementalDedupBatch(docs.filter(!deltaPred), docs.filter(deltaPred))
      .select("doc_id", "lang", "source", "n_chars")
      .orderBy("doc_id")
  }

  /** d34's probe/verify plan over explicit base/delta document frames
    * (each needs doc_id + text; the delta's other columns pass through) —
    * shared by the declared query and the streaming ingest gate
    * ([[graft.streaming.StreamIngestDedup]]). Returns the delta's
    * SURVIVORS: a delta doc drops iff it near-duplicates (J ≥ 0.6) any
    * base doc or any smaller-id delta doc.
    */
  def incrementalDedupBatch(baseDocs: DataFrame, deltaDocs: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(baseDocs.sparkSession)
    graft.functions.GraftFunctions.register(deltaDocs.sparkSession)
    val all = baseDocs.select(col("doc_id"), col("text"))
      .unionByName(deltaDocs.select(col("doc_id"), col("text")))
    val sh = GroupC.shinglesOf(all).localCheckpoint(false)
    val cand = incrementalProbes(sh, deltaDocs.select("doc_id")).as("d")
      .join(sh.as("o"), "shingle")
      .filter(col("d.doc_id") =!= col("o.doc_id"))
      .select(col("d.doc_id").as("did"), col("o.doc_id").as("oid"))
      .distinct()
    val common = cand
      .join(sh.select(col("doc_id").as("did"), col("shingle")), "did")
      .join(sh.select(col("doc_id").as("oid"), col("shingle")),
        Seq("oid", "shingle"))
      .groupBy("did", "oid").agg(count(lit(1)).as("c"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val matched = common
      .join(sizes.toDF("did", "nd"), "did")
      .join(sizes.toDF("oid", "no"), "oid")
      // J >= 0.6  <=>  c/(nd+no-c) >= 3/5  <=>  8c >= 3(nd+no), exact
      .filter(col("c") * 8 >= (col("nd") + col("no")) * 3)
      .join(deltaDocs.select(col("doc_id").as("oid"), lit(true).as("o_delta")),
        Seq("oid"), "left")
      .filter(col("o_delta").isNull || col("oid") < col("did"))
      .select(col("did").as("doc_id")).distinct()
    deltaDocs.join(matched, Seq("doc_id"), "left_anti")
  }

  /** d32: bigram-novelty quality score — the n-gram-LM filtering family
    * (CCNet/KenLM-style "does this document look like the corpus"
    * scoring) with EXACT integer arithmetic instead of log-probs: a
    * document's score is the fraction of its bigram OCCURRENCES that are
    * out-of-vocabulary, where the vocabulary is the lang's corpus bigrams
    * occurring ≥ 5 times. High novelty = gibberish/boilerplate candidates
    * for the quality gate (d6/d18's family, but CROSS-document evidence —
    * d18 only sees repetition within one doc). No floating log anywhere
    * (libm last-ulp behavior differs between engines; d6's contract), so
    * the fixed point `floor(n_oov·10⁴ / n_bi)` is engine-identical.
    * Plan: bigram occurrences explode once; vocab is a partial-agg count
    * ≥ 5; membership is one left join on (lang, w1, w2) against the
    * (deduplicated, so fanout-free) vocab; one per-doc count. At 100 TB
    * the vocab side is corpus-bounded and hot bigrams are single vocab
    * rows — the join fans out only to real occurrences.
    */
  /** Per-doc bigram occurrences — d32/d41/d58/d61's shared frame. Carries
    * `source` so d58's reference-slice model derives from THIS frame with
    * a filter (one tokenize pass, like the oracle's WHERE) instead of
    * re-scanning the slice.
    */
  private[queries] def bigramOccurrences(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"), col("source"),
        GroupC.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("lang"), col("source"), explode(expr(
        "transform(sequence(0, size(ts) - 2), " +
          "i -> struct(ts[i] AS w1, ts[i+1] AS w2))")).as("b"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("b.w1").as("w1"), col("b.w2").as("w2"))

  def d32BigramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val occ = bigramOccurrences(docs)
    val vocab = occ.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 5)
      .select(col("lang"), col("w1"), col("w2"), lit(1).as("in_vocab"))
    occ.join(vocab, Seq("lang", "w1", "w2"), "left")
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("in_vocab").isNull, 1L).otherwise(0L)).as("n_oov"))
      // integer `div`, honoring the documented exact-arithmetic contract
      // (d29/d30's convention) — a double division is exact only while
      // n_oov·10⁴ < 2⁵³ and the quotient isn't ulp-adjacent
      .withColumn("novelty_fp", expr("(n_oov * 10000) div n_bigrams"))
      .orderBy("doc_id")
  }

  /** d41: d32's novelty scoring with the vocabulary gate approximated by
    * a COUNT-MIN SKETCH — the sound version of the "cap the long-tail
    * bigram shuffle" idea (the exact map-side min-count was proven
    * unsound, SCALE d29 row). d32 materializes the ≥5-count vocab as a
    * TABLE (scales with distinct bigrams; must shuffle + join); here the
    * frequencies live in a fixed depth×width sketch built in one pass,
    * embedded as a plan literal, and probed at scan speed by the native
    * [[graft.functions.CmsCount]] expression — NO join anywhere. CMS
    * error is one-sided (estimate ≥ truth), so the gate can only move
    * bigrams INTO the vocab: `novelty_cms ≤ novelty_exact` per doc,
    * pinned in PipelineOpsSpec alongside the measured deviation.
    * Approximate ⇒ rows-only (d4's contract). Sketch bytes are memoized
    * per corpus (AnnTuning's one-time-build discipline).
    */
  def d41BigramNoveltyCms(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val occ = bigramOccurrences(Tables(spark, sfDir, "documents"))
      .withColumn("h", xxhash64(col("lang"), col("w1"), col("w2")))
    // disk-backed second level under the memo (Bench/Verify only):
    // sketch bytes persist via ModelStore, keyed on the documents files
    val bytes = cmsBytes(s"cms|$sfDir")(
      graft.operators.ModelCache.cached("cms", s"cms|$sfDir",
          Tables(spark, sfDir, "documents"))(
          graft.operators.ModelStore.loadSketch(spark, _))(
          graft.operators.ModelStore.saveSketch(spark, _, _))(
        graft.functions.CmsCount.serialized(occ.select("h"), "h")))
    occ
      .withColumn("est", call_function(
        graft.functions.GraftFunctions.CmsCountName, lit(bytes), col("h")))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(when(col("est") < 5, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("novelty_fp", expr("(n_oov * 10000) div n_bigrams"))
      .orderBy("doc_id")
  }

  private final class Memo[T](thunk: () => T) { lazy val value: T = thunk() }
  private val cmsMemo =
    new java.util.concurrent.ConcurrentHashMap[String, Memo[Array[Byte]]]()
  /** One sketch build per corpus key (the putIfAbsent-lazy-holder lock
    * discipline shared with AnnTuning/PqIndex/KMeans).
    */
  private def cmsBytes(key: String)(build: => Array[Byte]): Array[Byte] = {
    val fresh = new Memo(() => build)
    val prior = cmsMemo.putIfAbsent(key, fresh)
    (if (prior != null) prior else fresh).value
  }

  /** d42: robust outlier flagging — the data-quality pass that catches
    * truncated fragments and runaway concatenations by LENGTH, per
    * language: a document is an outlier when its token count deviates
    * from the lang median by more than 3× the median absolute deviation
    * (median/MAD, not mean/stddev — one 100k-token monster would drag a
    * mean-based gate, the standard robust-statistics argument). Exact on
    * both engines: the measures are integers, so every interpolated
    * median is a binary fraction (halves, then quarters for the MAD of
    * half-valued deviations) — representable exactly in doubles, b21's
    * percentile-parity contract. Two partial-agg shuffles (lang medians,
    * lang MADs) + broadcast-sized joins back.
    */
  def d42OutlierDocs(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("lang"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"))
    val med = docs.groupBy("lang")
      .agg(percentile(col("n_tokens"), lit(0.5)).as("med"))
    val dev = docs.join(broadcast(med), "lang")
      .withColumn("adev", abs(col("n_tokens") - col("med")))
    val mad = dev.groupBy("lang")
      .agg(percentile(col("adev"), lit(0.5)).as("mad"))
    dev.join(broadcast(mad), "lang")
      .select(col("doc_id"), col("lang"), col("n_tokens"),
        col("med"), col("mad"),
        (col("adev") > lit(3d) * col("mad")).as("is_outlier"))
      .orderBy("doc_id")
  }

  /** d28: overlapping token-window chunking — the RAG/embedding chunker
    * that cuts each document's token stream into fixed windows of 64
    * tokens at stride 48 (16-token overlap, so no boundary sentence is
    * lost to a hard cut). Unlike d20's pack-to-budget (chunks cross doc
    * boundaries there), chunks here are per-document and OVERLAP — the
    * two different layout disciplines a training/serving pipeline needs.
    * Pure per-row higher-order functions (sequence → slice per chunk) +
    * one Generate: nothing shuffles before the presentation sort, so the
    * chunker runs at scan bandwidth at any corpus size. Each chunk ships
    * as an md5 fingerprint + counts, never the token text — d8's
    * small-shuffle-row discipline for the correctness gate.
    */
  /** The d28 projection on any (doc_id, text) frame — STATELESS per-row
    * operations (no window, no aggregate), so the identical code runs
    * batch or under readStream (CsvStreamSpec pins the parity, c6's
    * pattern): chunking is the same ingest-time transform either way.
    */
  def chunkOverlap(docs: DataFrame): DataFrame = {
    val W = 64; val S = 48
    docs
      .select(col("doc_id"), GroupC.tokens(col("text")).as("ts"))
      .filter(size(col("ts")) >= 1 && col("ts").getItem(0) =!= "")
      .select(col("doc_id"), col("ts"), size(col("ts")).cast("long").as("n"))
      // chunk count: 1 + ceil((n-W)/S) when n > W else 1; integer ceil as
      // (n - W + S - 1) div S — exact in both engines, no float boundary.
      .select(col("doc_id"), col("ts"), col("n"),
        explode(expr(
          s"sequence(0L, IF(n <= $W, 0L, (n - $W + ${S - 1}) div $S))"))
          .as("chunk_id"))
      .select(col("doc_id"), col("chunk_id"),
        (col("chunk_id") * S + 1).as("chunk_start"),
        expr(s"slice(ts, int(chunk_id * $S + 1), $W)").as("chunk"))
      .select(col("doc_id"), col("chunk_id"), col("chunk_start"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("chunk")).cast("binary")).as("chunk_fp"))
  }

  def d28ChunkOverlap(spark: SparkSession, sfDir: String): DataFrame =
    chunkOverlap(Tables(spark, sfDir, "documents"))
      .orderBy("doc_id", "chunk_id")

  /** d29: bigram collocation statistics — the corpus n-gram analysis pass
    * (top co-occurring word pairs per language with a PMI-style lift).
    * Bigrams explode from the per-doc token array (adjacent pairs, the
    * word-order signal c4's unigram tf/df and d16's tfidf don't see);
    * counts ride one partial-agg shuffle per level. Lift
    * P(w1w2)/(P(w1)P(w2)) is published as the exact INTEGER fixed point
    * `(cnt·T·10⁴) div (c1·c2)` — no float division, so both engines agree
    * bit-for-bit (d6/c7's contract). Top-5 per lang by (count desc, w1,
    * w2) plans as WindowGroupLimit: partitions locally drop beyond-5 rows
    * before the shuffle.
    */
  def d29BigramPmi(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val toks = docs.select(col("lang"), GroupC.tokens(col("text")).as("ts"))
    val bi = toks.filter(size(col("ts")) >= 2)
      .select(col("lang"), explode(expr(
        "transform(sequence(0, size(ts) - 2), " +
          "i -> struct(ts[i] AS w1, ts[i+1] AS w2))")).as("b"))
      .select(col("lang"), col("b.w1").as("w1"), col("b.w2").as("w2"))
      .groupBy("lang", "w1", "w2").agg(count(lit(1)).as("cnt"))
    val uni = docs
      .select(col("lang"), explode(GroupC.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("lang", "w").agg(count(lit(1)).as("c1"))
    val tot = uni.groupBy("lang").agg(sum("c1").as("t"))
    val w = Window.partitionBy("lang")
      .orderBy(col("cnt").desc, col("w1"), col("w2"))
    bi
      .join(uni.select(col("lang"), col("w").as("w1"), col("c1").as("c1a")),
        Seq("lang", "w1"))
      .join(uni.select(col("lang"), col("w").as("w2"), col("c1").as("c1b")),
        Seq("lang", "w2"))
      .join(tot, "lang")
      // BOTH products ride decimal(38,0): cnt·t·10⁴ outgrows int64 around
      // 10¹⁰ tokens/lang, and the denominator c1a·c1b does the same for
      // hot-word pairs (exactly the ones that rank) — decimal `div` keeps
      // the fixed point exact at any corpus size; DuckDB HUGEINT mirrors it
      .withColumn("lift_fp",
        expr("cast((cast(cnt AS decimal(38,0)) * t * 10000) " +
          "div (cast(c1a AS decimal(38,0)) * c1b) AS bigint)"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 5)
      .select(col("lang"), col("w1"), col("w2"), col("cnt"),
        col("lift_fp"), col("rnk").cast("long").as("rnk"))
      .orderBy("lang", "rnk")
  }

  /** d30: containment near-dup via PREFIX-FILTERED probes — c7's declared
    * scale path. c7's inverted-index self-join meets every co-shingled
    * pair (Σ df² — quadratic on hot shingles); d1's Jaccard banding can't
    * replace it because containment pairs (short doc quoted inside a long
    * one) have LOW Jaccard. Prefix filtering (Bayardo et al., WWW'07
    * AllPairs; Chaudhuri et al., ICDE'06 — public) instead: rank each
    * document's shingles by GLOBAL rarity (df asc, shingle asc) and probe
    * the index with only the first `floor(na/10)+1` of them. Pigeonhole
    * makes the candidate set provably complete: containment ≥ 0.9 allows
    * at most `na − ceil(0.9·na) = floor(na/10)` of A's shingles to miss
    * B, so at least one PREFIX shingle of A is in B — no probabilistic
    * miss, unlike hash-bottom-k sampling (measured here: the hash-min
    * shingles of every doc concentrate on the same few hot shingles of
    * this small-vocabulary corpus, blowing the probe join to df² on
    * exactly the keys sampling was meant to avoid — 35 s vs 3 s at
    * sf0.1). Rarest-first probing is also the skew guard: the hottest
    * shingles are probed only by docs whose whole vocabulary is hot.
    * Candidates then verify EXACTLY (array_intersect on the per-doc
    * arrays) and apply c7's integer cross-multiplied threshold, so the
    * output is bit-identical to c7 — same DuckDB oracle, different (and
    * scalable) physical plan, the d23-vs-d19 relationship.
    */
  /** d30's prefix-filter probe frame on an exploded distinct-shingle
    * frame: each doc's `floor(na/10)+1` globally RAREST shingles
    * ((df asc, shingle asc) rank). Shared with the spec's candidate-volume
    * pin so the measured fraction can never drift from the shipped rule.
    */
  private[queries] def containmentProbes(sh: DataFrame): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val wRare = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    sh.join(dfreq, "shingle")
      .join(sizes, "doc_id")
      .withColumn("rn", row_number().over(wRare))
      .filter(col("rn") <= expr("n div 10 + 1"))
      .select("doc_id", "shingle")
  }

  /** d34's rarest-first probe frame — d30's prefix filter re-derived at the
    * Jaccard ≥ 0.6 threshold (round-8 verdict #2). For a delta doc with n
    * distinct shingles, any match must share c ≥ ⌈3n/5⌉ of them
    * (J ≥ 3/5 ⇔ 8c ≥ 3(n+n_o) and n_o ≥ c ⇒ 5c ≥ 3n), so at most
    * ⌊2n/5⌋ shingles can miss the partner — probing the inverted index
    * with only the ⌊2n/5⌋+1 globally-RAREST shingles ((df asc, shingle
    * asc) rank, the skew guard: hot shingles are probed only by docs whose
    * whole vocabulary is hot) is pigeonhole-complete, no probabilistic
    * miss. Global df counts base ∪ delta occurrences — computed over the
    * full exploded frame the verify step shares (one exchange, reused).
    */
  private[queries] def incrementalProbes(sh: DataFrame,
      deltaIds: DataFrame): DataFrame = {
    val dfreq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    val wRare = Window.partitionBy("doc_id").orderBy(col("df"), col("shingle"))
    sh.join(deltaIds, "doc_id")
      .join(dfreq, "shingle")
      .withColumn("rn", row_number().over(wRare))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .filter(col("rn") <= expr("(n * 2) div 5 + 1"))
      .select("doc_id", "shingle")
  }

  def d30ContainmentProbe(spark: SparkSession, sfDir: String): DataFrame = {
    // Every branch consumes the SAME exploded distinct-shingle frame (c2's
    // inverted-index machinery). History of this frame's lineage: a first
    // cut used per-doc shingle ARRAYS (d1's frame) + array_intersect
    // verify — constraint propagation inlined the tokenize+hash HOF into
    // every one of SIX document scans (3× per scan via inferred
    // isnotnull/size filters): 152 s at sf0.1. The explode+distinct
    // lineage fixed that with an aggregation exchange (~3 s); since
    // round 9 the frame comes from the native ShingleHashes kernel with
    // NO exchange at all (1.9 s) — the inline hazard is gone outright
    // because the kernel is one cheap char scan wherever Catalyst copies
    // it (see GroupC.shingles).
    val sh = GroupC.shingles(spark, sfDir).localCheckpoint(false)
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val probes = containmentProbes(sh)
    // NO merge hint on the probe/verify joins (unlike pairOverlap's
    // self-join): the probes/cand sides sit above their own exchanges, so
    // the planner sizes them accurately — small here (broadcast, measured
    // 1.8 vs 3.2 s hinted at sf0.1), huge at 100 TB (degrades to the SMJ
    // the scale plan wants). The bare exploded side can't win the
    // build-side choice: probes derive FROM it, so its estimate is never
    // the smaller one.
    val cand = probes.as("p").join(sh.as("i"), "shingle")
      .filter(col("p.doc_id") =!= col("i.doc_id"))
      .select(least(col("p.doc_id"), col("i.doc_id")).as("doc_a"),
        greatest(col("p.doc_id"), col("i.doc_id")).as("doc_b"))
      .distinct()
    // exact verify on candidates only: count the common shingles of each
    // candidate pair (a semi-join-restricted version of c7's `common`)
    val common = cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("c"))
    common
      .join(sizes.toDF("doc_a", "na"), "doc_a")
      .join(sizes.toDF("doc_b", "nb"), "doc_b")
      .filter(col("c") * 10 >= col("na") * 9 || col("c") * 10 >= col("nb") * 9)
      .select(col("doc_a"), col("doc_b"),
        expr("(c * 10000) div na").as("cont_a_fp"),
        expr("(c * 10000) div nb").as("cont_b_fp"))
      .orderBy("doc_a", "doc_b")
  }

  /** d43: containment with the exact first-pass verify replaced by a
    * MINHASH SIGNATURE estimate — the SCALE.md c7/d30 promise ("at 100 TB
    * containment is estimated from the SAME signatures as d1") made code.
    * Candidates still come from d30's pigeonhole-complete prefix probes
    * (banding can't generate them: containment pairs have low Jaccard);
    * but instead of running the two-sided exploded common-count join on
    * EVERY candidate, each pair is first screened on d1's 64-perm MinHash
    * signatures: Ĵ = matching-position fraction (Broder's estimator,
    * public), ĉ = Ĵ/(1+Ĵ)·(n_a+n_b) (from J = c/(n_a+n_b−c)), and the
    * pair survives when ĉ ≥ 0.5·min(n_a,n_b) — half the exact 0.9·min
    * threshold, a wide noise margin (σ_Ĵ ≤ 1/√256 per position count).
    * Survivors — and only survivors — get d30's exact verify, so every
    * EMITTED row is exactly correct (output ⊆ d30 by construction; the
    * screen can only miss, never fabricate — d41's one-sidedness shape).
    * At 100 TB the screen probes fixed 64-long signatures (a per-doc
    * constant, computed once for d1 anyway) instead of re-exploding
    * shingles per candidate — the verify join's volume drops from all
    * candidates to true-positive-ish survivors. Approximate ⇒ rows-only;
    * subset-of-d30 + measured recall pinned in PipelineOpsSpec.
    */
  def d43ContainmentMinhash(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    // r22 (r21 verdict task 3): the r21 localCheckpoint barrier here is
    // REVERTED — the driver measured d43 1.25 → 1.55 s with it (the only
    // touched-and-regressed query of r21). Unlike d30, d43's plan
    // references `sh` through the signature aggregate (one exchange AQE
    // already reuses) plus the two verify sides, and the barrier's
    // materialization cost exceeded the recompute saving under cold
    // min-of-3 conditions (a shingle-keyed repartition was also A/B'd
    // here in r22 and lost: 1.26 bare vs 2.10 keyed, quiet box).
    val sh = GroupC.shingles(spark, sfDir)
    val cand = containmentProbes(sh).as("p").join(sh.as("i"), "shingle")
      .filter(col("p.doc_id") =!= col("i.doc_id"))
      .select(least(col("p.doc_id"), col("i.doc_id")).as("doc_a"),
        greatest(col("p.doc_id"), col("i.doc_id")).as("doc_b"))
      .distinct()
    // screen carries (na, nb) = the per-doc distinct-shingle counts from
    // the signature frame, so the exact verify needs no separate size joins
    val screened = d43Screen(cand, d43Sigs(sh))
      .select("doc_a", "doc_b", "na", "nb")
    val common = screened
      .join(sh.select(col("doc_id").as("doc_a"), col("shingle")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingle")),
        Seq("doc_b", "shingle"))
      .groupBy("doc_a", "doc_b", "na", "nb").agg(count(lit(1)).as("c"))
    common
      .filter(col("c") * 10 >= col("na") * 9 || col("c") * 10 >= col("nb") * 9)
      .select(col("doc_a"), col("doc_b"),
        expr("(c * 10000) div na").as("cont_a_fp"),
        expr("(c * 10000) div nb").as("cont_b_fp"))
      .orderBy("doc_a", "doc_b")
  }

  /** d43's (doc_id, mh, n) signature frame, derived from the SAME exploded
    * `sh` relation the candidates come from. MinHash is a min over the
    * shingle SET, so `minhash(collect_list(shingle))` post-shuffle is
    * bit-identical to `minhash(sh)` on a per-doc array frame. Lineage
    * history: with the old HOF tokenizer, the array-frame derivation
    * re-hit the d30 inline trap (the screen condition's inferred
    * constraints pushed the tokenizer INTO the per-shingle lambda of the
    * signature broadcast build — interpreted, one task, regexp per
    * element: measured 33 s vs 2.3 s at sf0.1; a repartition barrier did
    * NOT stop the inline, deriving from the shuffled exploded frame did).
    * Since the round-9 ShingleHashes kernel the trap is moot, but this
    * derivation stays: it shares the exploded frame's one groupBy
    * exchange with the size counts it also needs.
    */
  private[queries] def d43Sigs(sh: DataFrame): DataFrame =
    sh.groupBy("doc_id").agg(
      expr(s"${graft.functions.GraftFunctions.MinHashName}" +
        "(collect_list(shingle))").as("mh"),
      count(lit(1)).as("n"))

  /** d43's signature screen on a (doc_a, doc_b) candidate frame against a
    * (doc_id, mh, n) signature frame — shared with the spec's pruning /
    * recall pins so the measured numbers can never drift from the shipped
    * rule. Either-direction containment ≥ 0.9 ⇔ c ≥ 0.9·min(n_a,n_b)
    * (c ≤ min always), screened at HALF that bar on the estimate.
    */
  private[queries] def d43Screen(cand: DataFrame, sigs: DataFrame): DataFrame =
    cand
      .join(sigs.toDF("doc_a", "mha", "na"), "doc_a")
      .join(sigs.toDF("doc_b", "mhb", "nb"), "doc_b")
      // the match count runs as the native codegen'd SigMatchCount — the
      // single-consumer aliases below get INLINED into the join condition
      // by Catalyst, where a CodegenFallback HOF chain would evaluate
      // interpreted per probed pair. Callers must pass [[d43Sigs]]-shaped
      // signatures (exploded-frame lineage); see that doc for the 33 s
      // inline trap the array frame re-triggers here.
      .withColumn("jhat", call_function(
          graft.functions.GraftFunctions.SigMatchName, col("mha"), col("mhb"))
        / expr("cast(size(mha) as double)"))
      .withColumn("chat",
        col("jhat") / (col("jhat") + 1.0) * (col("na") + col("nb")))
      .filter(col("chat") >= lit(0.5) * least(col("na"), col("nb")))

  /** d44: contamination ATTRIBUTION — d19 answers "is this train doc
    * contaminated?"; this answers the auditor's follow-up "by WHICH
    * benchmark item, and how much?": for every contaminated train doc,
    * the single benchmark doc sharing the most 3-gram shingles
    * (ties → lowest bench_id) with the shared count and the contaminated
    * fraction of the train doc's shingle set, `(n_shared·10⁴) div n`
    * integer fixed-point (c7's exact-arithmetic rule). The pair join is
    * BIPARTITE inverted-index (train shingles ⋈ benchmark shingles):
    * only real overlaps produce pair rows, and the benchmark side is
    * small by definition — the d19/d23 asymmetry — so at 100 TB it
    * broadcasts while the train side streams once. A benchmark release
    * too big to broadcast (a giant eval union) takes the d23 BLOOM route
    * instead: a serialized bloom over the benchmark shingles prunes the
    * train side MAP-SIDE to rows whose shingle might be shared, and the
    * follow-up shuffle equi-join restores exactness (bloom false
    * positives just ride into a join that drops them) — bit-identical
    * output by construction, pinned in PipelineOpsSpec. The route picks
    * itself from the MEASURED benchmark shingle count (one memoized stat
    * action — d36's measured-selectivity discipline, never a guess).
    * The top-1 attribution plans as WindowGroupLimit either way, so at
    * most one row per train doc survives to the sort.
    */
  def d44ContaminationReport(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val sh = GroupC.shingles(spark, sfDir)
    val fresh = new Memo(() =>
      sh.join(docs.filter(col("source") === "src0").select("doc_id"), "doc_id")
        .count())
    val prior = corpusNMemo.putIfAbsent(s"d44bench|$sfDir", fresh)
    val benchRows = (if (prior != null) prior else fresh).value
    contaminationReportOf(docs, sh,
      useBloom = benchRows > d44BroadcastRowCap(spark))
  }

  /** Row cap for broadcasting the benchmark shingle side, derived from
    * the SESSION's autoBroadcastJoinThreshold at ~26 B per (bench_id,
    * shingle) row (16 B of longs + Spark row overhead) — a session that
    * raises or lowers the threshold moves the bloom/broadcast fork with
    * it instead of silently keeping a 10 MB-era constant (round-11
    * ADVICE). Threshold ≤ 0 (broadcast disabled) forces the bloom route;
    * an unset/unparsable conf falls back to the 10 MB default's cap.
    */
  private[queries] def d44BroadcastRowCap(spark: SparkSession): Long = {
    val bytes = try spark.sessionState.conf.autoBroadcastJoinThreshold
      catch { case scala.util.control.NonFatal(_) => 10L * 1024 * 1024 }
    if (bytes <= 0) 0L else bytes / 26
  }

  /** d44's body with the route explicit — reusable in specs to pin the
    * two branches bit-identical on one corpus.
    */
  private[queries] def contaminationReportOf(docs: DataFrame, sh: DataFrame,
      useBloom: Boolean): DataFrame = {
    val trainSh = sh.join(
      docs.filter(col("source") =!= "src0").select("doc_id"), "doc_id")
    val benchSh = sh.join(
        docs.filter(col("source") === "src0").select("doc_id"), "doc_id")
      .select(col("doc_id").as("bench_id"), col("shingle"))
    val sizes = trainSh.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val joined =
      if (!useBloom) trainSh.join(broadcast(benchSh), "shingle")
      else {
        graft.functions.GraftFunctions.register(docs.sparkSession)
        val bloomBytes = graft.functions.BloomContains.serialized(
          benchSh.select("shingle").distinct(), "shingle")
        trainSh.filter(call_function(
            graft.functions.GraftFunctions.BloomName,
            lit(bloomBytes), col("shingle")))
          .join(benchSh, "shingle")
      }
    val pair = joined.groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
    val w = Window.partitionBy("doc_id")
      .orderBy(col("n_shared").desc, col("bench_id"))
    pair
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .join(sizes, "doc_id")
      .join(docs.select("doc_id", "lang", "source"), "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("bench_id"),
        col("n_shared"), expr("(n_shared * 10000) div n").as("contam_fp"))
      .orderBy("doc_id")
  }

  /** d45: unigram-LM token rarity — the cheap perplexity proxy a quality
    * gate runs when a real LM is too expensive: per-doc mean corpus
    * document-frequency of its token OCCURRENCES, normalized by corpus
    * size to `(Σ df)·10⁴ div (n_occ·N)` — 10⁴ ≡ every token in every doc,
    * low ≡ the doc is dominated by corpus-rare tokens (novel or noise;
    * both deserve a look). All-integer arithmetic; the Σ df accumulator
    * is decimal(38,0) because at 100 TB df reaches ~10¹⁰ and a 10³-token
    * doc puts the raw sum × 10⁴ near the long boundary (d29's overflow
    * rule). The df table is vocab-sized — the standing LM asset, the
    * same partial-agg + token equi-join shape as d16 — and docs with no
    * tokens have no occurrences and drop out (same rule both sides).
    */
  def d45TokenRarity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val occ = docs.select(col("doc_id"),
        explode(GroupC.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val dfreq = occ.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    occ.join(dfreq, "token")
      .groupBy("doc_id").agg(count(lit(1)).as("n_occ"),
        sum(col("df").cast("decimal(38,0)")).as("sum_df"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("n_occ"),
        expr("cast((sum_df * 10000) div (n_occ * n_docs) as bigint)")
          .as("commonness_fp"))
      .withColumn("rare", col("commonness_fp") < 2000)
      .orderBy("doc_id")
  }

  /** d46: cluster dedup keeping the BEST doc — d14 labels near-dup
    * clusters and c1/d9-style rules keep the lowest id; a production
    * pipeline keeps the highest-QUALITY member (longest, cleanest), so
    * this composes d14's components with d6's quality gate: per cluster,
    * keep the doc with (quality_ok desc, n_tokens desc, doc_id asc) —
    * the flag first, then the longest, id as the deterministic tiebreak —
    * and every unclustered doc survives untouched. The keep rule plans as
    * WindowGroupLimit over cluster_id (one survivor per cluster past the
    * shuffle); singletons bypass the window entirely (no "all the
    * singletons in one NULL partition" hazard — they union around it).
    */
  def d46DedupKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val qual = d6QualityScore(spark, sfDir)
      .select("doc_id", "n_tokens", "quality_ok")
    val labeled = docs.select("doc_id", "lang", "source")
      .join(qual, "doc_id")
      .join(d14DedupClusters(spark, sfDir).select("doc_id", "cluster_id",
        "cluster_size"), Seq("doc_id"), "left")
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("quality_ok").desc, col("n_tokens").desc, col("doc_id"))
    val kept = labeled.filter(col("cluster_id").isNotNull)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .drop("rn")
    kept.unionByName(labeled.filter(col("cluster_id").isNull))
      .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"),
        col("quality_ok"), coalesce(col("cluster_size"), lit(1L)).as("cluster_size"))
      .orderBy("doc_id")
  }

  /** d47: cross-source near-dup overlap matrix — the crawl-provenance
    * audit a pipeline runs before mixing sources: for each unordered pair
    * of sources {s1 ≤ s2}, how many near-dup pairs (c2's J ≥ 0.6 contract)
    * have one doc in each, and what fraction of the possible cross pairs
    * that is (`(n_pairs·10⁴) div (n_a·n_b)`, diagonal cells use
    * `C(n_a, 2)`) — high off-diagonal cells mean two crawls scraped the
    * same sites and one should be dropped or down-weighted (d26's mix
    * knobs), high diagonal cells mean a source self-duplicates (c1/d46
    * territory). Pure integer output; the rate numerator rides
    * decimal(38,0) under d29's overflow rule (n_pairs can reach ~10¹²
    * at 100 TB; ×10⁴ would sit past the long boundary).
    *
    * Scale shape: the pair frame is c2's (already linear-ish via the
    * shingle equi-join; d1's banded variant is the swap-in at 100 TB —
    * same (doc_a, doc_b) contract, so this matrix composes unchanged);
    * attaching sources is two joins against the slim (doc_id, source)
    * projection, and everything after the (src_a, src_b) group-by is
    * sources²-sized — a broadcast-joined report frame.
    */
  def d47SourceOverlap(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    val pairs = GroupC.pairOverlap(spark, sfDir)
      .filter((col("c").cast("double") /
        (col("na") + col("nb") - col("c")).cast("double")) >= 0.6)
      .select("doc_a", "doc_b")
    val cells = pairs
      .join(src.as("sa"), col("doc_a") === col("sa.doc_id"))
      .join(src.as("sb"), col("doc_b") === col("sb.doc_id"))
      .select(least(col("sa.source"), col("sb.source")).as("src_a"),
        greatest(col("sa.source"), col("sb.source")).as("src_b"))
      .groupBy("src_a", "src_b").agg(count(lit(1)).as("n_pairs"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val ca = counts.select(col("source").as("src_a"), col("n_docs").as("na_docs"))
    val cb = counts.select(col("source").as("src_b"), col("n_docs").as("nb_docs"))
    cells.join(broadcast(ca), "src_a").join(broadcast(cb), "src_b")
      .select(col("src_a"), col("src_b"), col("n_pairs"),
        expr("""cast((cast(n_pairs as decimal(38,0)) * 10000) div
          (case when src_a = src_b then (na_docs * (na_docs - 1)) div 2
           else na_docs * nb_docs end) as bigint)""").as("dup_rate_fp"))
      .orderBy("src_a", "src_b")
  }

  /** d48: kNN label propagation — the pseudo-labeling / label-error audit
    * over the labeled embedding table: every vector's predicted label is
    * the majority label among its 5 exact nearest cosine neighbors
    * (excluding itself; vote ties → smallest label, neighbor-rank ties →
    * smallest vec_id), reported next to the true label with an `agree`
    * flag — disagreements are the label-error candidates (Confident
    * Learning's cheap cousin), and on unlabeled data the same plan IS the
    * pseudo-labeler. All-pairs meet through d9's block-matrix
    * decomposition (B=8: queries key (own, explode 0..B-1), corpus keys
    * (explode 0..B-1, own) — every ordered pair meets in exactly one of
    * the B² equi-join cells, so parallelism is B², not B). The top-5
    * plans as WindowGroupLimit — each task keeps ≤5 rows per query before
    * the qid exchange — and the vote tail is ≤5 rows per vector.
    *
    * ORACLE-ANCHOR ONLY — never run this at production sf: the exact scan
    * is quadratic by construction and exists to pin the contract; the
    * production path is [[d52LabelKnnAnn]] (same vote tail over measured
    * tuned-LSH/IVF candidates, ≥0.9 agreement pinned both families).
    * d3/d13 pin the candidate trade's recall.
    */
  def d48LabelKnn(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    labelKnnOf(Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")))
  }

  /** d48's body over an arbitrary (vec_id, label, v) frame — reusable in
    * specs against synthetic labeled corpora. Callers must have
    * registered [[graft.functions.GraftFunctions]] on the session.
    */
  private[queries] def labelKnnOf(e: DataFrame): DataFrame = {
    val B = 8
    val blocked = e.withColumn("blk", pmod(col("vec_id"), lit(B)).cast("int"))
    // d9's triangular block pairing: each unordered pair meets once
    // (diagonal cells see both orientations — the ida < idb filter keeps
    // one), the cosine evaluates once, and BOTH orientations then explode
    // from that single row — half the kernel work of the full matrix
    val left = blocked.select(col("vec_id").as("ida"),
        col("label").as("la"), col("v").as("va"), col("blk").as("bi"))
      .withColumn("bj", explode(expr(s"sequence(bi, ${B - 1})")))
    val right = blocked.select(col("vec_id").as("idb"),
        col("label").as("lb"), col("v").as("vb"), col("blk").as("bj"))
      .withColumn("bi", explode(expr("sequence(0, bj)")))
    val tri = left.join(right, Seq("bi", "bj"))
      .filter(col("bi") =!= col("bj") || col("ida") < col("idb"))
      .filter(col("ida") =!= col("idb"))
      .select(col("ida"), col("la"), col("idb"), col("lb"),
        GroupC.cosine("va", "vb").as("s"))
    val sims = tri.select(explode(array(
        struct(col("ida").as("qid"), col("idb").as("nn_id"),
          col("lb").as("nn_label"), col("s")),
        struct(col("idb").as("qid"), col("ida").as("nn_id"),
          col("la").as("nn_label"), col("s")))).as("p"))
      .select(col("p.qid"), col("p.nn_id"), col("p.nn_label"), col("p.s"))
    // exact top-5 per query via the native heap operator (b37's plan):
    // O(rows) heap inserts against the window plan's per-task sorts, same
    // deterministic set (total order — nn_id is unique within a query)
    voteTail(e, sims)
  }

  /** The kNN-vote tail shared by d48 (exact sims) and d52 (ANN candidate
    * sims): top-5 neighbors per query via the native heap operator, then
    * the majority vote (ties → smallest label) reported next to the true
    * label. `sims` must carry (qid, nn_id, nn_label, s).
    */
  private def voteTail(e: DataFrame, sims: DataFrame): DataFrame = {
    val knn = org.apache.spark.sql.graft.TopKPerGroup(sims, Seq("qid"),
      Seq(("s", true), ("nn_id", false)), k = 5)
    val votes = knn.groupBy("qid", "nn_label").agg(count(lit(1)).as("votes"))
    val vw = Window.partitionBy("qid").orderBy(col("votes").desc, col("nn_label"))
    val pred = votes.withColumn("vr", row_number().over(vw))
      .filter(col("vr") === 1)
      .select(col("qid").as("vec_id"), col("nn_label").as("pred_label"),
        col("votes"))
    e.select("vec_id", "label").join(pred, "vec_id")
      .select(col("vec_id"), col("label"), col("pred_label"), col("votes"),
        (col("pred_label") === col("label")).as("agree"))
      .orderBy("vec_id")
  }

  /** d52: kNN label propagation over ANN candidates — d48's declared
    * 100 TB path made a first-class query. Same contract (majority label
    * among the top-5 cosine neighbors, same tie rules, same output shape)
    * but the neighbor pool comes from an auto-tuned ANN candidate
    * generator instead of the all-pairs block join — candidate volume is
    * bounded per vector, NOT n², so the pseudo-labeler survives the 100×
    * corpus that kills d48's exact scan. The generator FAMILY (hyperplane
    * LSH with the big-bucket cap, or IVF cell probes) routes on measured
    * per-corpus stats — see [[labelKnnAnnOf]].
    *
    * Approximate ⇒ rows-only (no oracle), the d4/d13 discipline; d48 is
    * the exact baseline it trades against. PipelineOpsSpec pins the trade
    * on a clustered labeled corpus (the regime where pseudo-labeling is
    * run): prediction agreement vs d48 ≥ 0.9 over full coverage,
    * candidate volume ≪ n², and determinism. Vectors with zero bucket
    * mates drop from the report (no neighbors → no vote), matching d48's
    * inner-join contract.
    *
    * Scale shape: one posexplode scan keys the corpus (tables rows per
    * vector), the bucket equi-join is the only shuffle that grows with
    * collisions (capped per bucket), the heap top-5 keeps ≤5 rows per
    * query before the qid exchange, and the vote tail is ≤5 rows per
    * vector — no stage materializes anything n²-shaped.
    */
  def d52LabelKnnAnn(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    labelKnnAnnOf(Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")),
      spark, s"lsh|$sfDir")
  }

  /** d52's body over an arbitrary (vec_id, label, v) frame — reusable in
    * specs against synthetic labeled corpora. `tuneKey` memoizes the
    * tuning per corpus (d4's discipline). The candidate FAMILY routes on
    * the measured stats unless forced: both families tune at the same
    * 0.9 recall bar and the one meeting it with the smaller sampled
    * candidate fraction wins (recall wins when only one meets it; best
    * estimated recall when neither does) — d36's measured-choice
    * discipline applied to the LSH-vs-IVF fork, so a clustered corpus
    * (IVF's regime) and a weakly-correlated one (coarse LSH's) each get
    * the candidate generator that is actually cheaper THERE.
    */
  private[queries] def labelKnnAnnOf(e: DataFrame, spark: SparkSession,
      tuneKey: String, family: Option[String] = None): DataFrame = {
    val vecs = e.select("vec_id", "v")
    lazy val lsh = graft.operators.AnnTuning.tunedLsh(spark, vecs, tuneKey)
    lazy val ivf = graft.operators.AnnTuning.tunedIvf(spark, vecs,
      s"ivf-$tuneKey", recallTarget = 0.9)
    val pick = family.getOrElse {
      val (l, i) = (lsh.stats, ivf.stats)
      val (lOk, iOk) = (l.estRecall >= 0.9, i.estRecall >= 0.9)
      if (lOk && iOk) {
        if (i.candidateFraction < l.candidateFraction) "ivf" else "lsh"
      } else if (iOk) "ivf"
      else if (lOk) "lsh"
      else if (i.estRecall > l.estRecall) "ivf"
      else "lsh"
    }
    val cand = pick match {
      case "ivf" => ivfCandidatePairs(vecs, spark,
        ivf.config.stride, ivf.config.probes)
      case _ => lshCandidatePairs(vecs, spark,
        lsh.config.tables, lsh.config.bits,
        graft.operators.AnnTuning.effectiveCap(lsh),
        probes = lsh.config.probes)
    }
    val sims = cand
      .join(e.select(col("vec_id").as("qid"), col("v").as("qv")), Seq("qid"))
      .join(e.select(col("vec_id").as("nn_id"), col("label").as("nn_label"),
        col("v").as("nv")), Seq("nn_id"))
      .select(col("qid"), col("nn_id"), col("nn_label"),
        GroupC.cosine("nv", "qv").as("s"))
    voteTail(e, sims)
  }

  /** d49: label purity audit — d48's counterpart from the geometry side:
    * each vector's cosine to its OWN label's centroid, ranked worst-first
    * within the label; the bottom 5% (`label_rank ≤ max(1, n div 20)`)
    * are the mislabel candidates a curation pass reviews. The centroid
    * is represented by the per-label SUM vector, not the mean — cosine is
    * scale-invariant so they rank identically, and the sum avoids a
    * division whose decimal scale rules differ across engines. Summing in
    * decimal(38,18) makes the aggregation ORDER-INDEPENDENT (float sums
    * are not: parallel partial-agg merge order would perturb ulps run to
    * run), so the Spark and DuckDB centroids agree and the oracle
    * hash-matches; the one cast back to double rounds a single exact
    * decimal per element.
    *
    * Scale shape: posexplode is scan-bandwidth; the (label, i) partial
    * agg combines map-side so the shuffle carries labels × dim rows per
    * task; centroids (labels rows) broadcast back. The per-label rank
    * window is the one full sort — a dominant label at 100 TB takes
    * d37's ShardedOrder escape (rank = shard rank + broadcast offset).
    */
  def d49LabelPurity(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    labelPurityOf(Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v")))
  }

  /** d49's body over an arbitrary (vec_id, label, v) frame — reusable in
    * specs. Callers must have registered GraftFunctions on the session.
    */
  private[queries] def labelPurityOf(e: DataFrame): DataFrame = {
    val cent = e.select(col("label"), posexplode(col("v")).as(Seq("i", "x")))
      .groupBy("label", "i")
      .agg(sum(col("x").cast("decimal(38,18)")).as("m"))
      .groupBy("label")
      .agg(expr("transform(array_sort(collect_list(struct(i, m))), " +
        "s -> cast(s.m as double))").as("c"))
    val sims = e.join(broadcast(cent), "label")
      .select(col("vec_id"), col("label"), GroupC.cosine("v", "c").as("s"))
    val w = Window.partitionBy("label")
      .orderBy(col("s").asc_nulls_last, col("vec_id"))
    sims
      .withColumn("label_rank", row_number().over(w))
      .withColumn("n_label", count(lit(1)).over(Window.partitionBy("label")))
      .select(col("vec_id"), col("label"), round(col("s"), 6).as("centroid_sim"),
        col("label_rank"),
        (col("label_rank") <= greatest(lit(1), expr("n_label div 20")))
          .as("outlier"))
      .orderBy("vec_id")
  }

  /** d50: temperature-based source sampling — the Pile/ROOTS mixing
    * recipe with DATA-DERIVED quotas (d17 hard-codes its caps): at τ=0.5
    * each source's share of the K-doc target budget is
    * p_s^τ / Σ p_t^τ — rarer sources get a super-proportional share —
    * capped at the source's own size. All cross-engine arithmetic is
    * integer once the weight is built: w_s = floor(sqrt(n_s/N)·10⁶)
    * (IEEE sqrt and double division are correctly rounded in both
    * engines, and the fixed-point floor happens per source BEFORE any
    * sum, so no float accumulation order exists), k_s =
    * min(n_s, (K·w_s) div Σw), K = (6·N) div 10. Selection within a
    * source is d17's deterministic md5 rank.
    *
    * Scale shape: quotas are a sources-row aggregate broadcast back; the
    * varying per-source cap can't be a WindowGroupLimit by itself, so the
    * plan pre-prunes with the GLOBAL max quota as a rank ≤ literal
    * (WindowGroupLimit, map-side) read from the quota frame — a
    * model-sized stat action, d36's selectivity-read discipline — then
    * applies the exact per-source filter on the survivors. A DOMINANT
    * source (one source ≈ the whole corpus) serializes its rank into one
    * window task — [[temperatureSampleShardedOf]] is the bit-identical
    * ShardedOrder escape for that regime (d49's documented hazard,
    * equality pinned in PipelineOpsSpec).
    */
  def d50TemperatureSample(spark: SparkSession, sfDir: String): DataFrame =
    temperatureSampleOf(Tables(spark, sfDir, "documents"))

  /** d50's body over an arbitrary (doc_id, lang, source, ...) frame —
    * reusable in specs against synthetic source mixes.
    */
  private[queries] def temperatureSampleOf(docs: DataFrame): DataFrame = {
    val (quotas, kMax) = temperatureQuotas(docs)
    val w = Window.partitionBy("source")
      .orderBy(md5(concat(col("doc_id").cast("string"), lit(":temp"))),
        col("doc_id"))
    docs.select(col("doc_id"), col("lang"), col("source"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= lit(kMax))
      .join(broadcast(quotas), "source")
      .filter(col("rk") <= col("k_s"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("rk").cast("long").as("src_rank"), col("k_s"))
      .orderBy("doc_id")
  }

  /** The data-derived quota frame + its global max (one sources-row stat
    * action — d36's discipline), shared by d50's plain and sharded forms.
    */
  private def temperatureQuotas(docs: DataFrame): (DataFrame, Long) = {
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_s"))
    val weighted = counts
      .crossJoin(broadcast(docs.agg(count(lit(1)).as("n_total"))))
      .withColumn("w_s",
        floor(sqrt(col("n_s").cast("double") / col("n_total").cast("double"))
          * 1e6).cast("long"))
    val quotas = weighted
      .crossJoin(broadcast(weighted.agg(sum(col("w_s")).as("w_sum"))))
      .select(col("source"),
        least(col("n_s"),
          expr("(((6 * n_total) div 10) * w_s) div w_sum")).as("k_s"))
    (quotas, quotas.agg(max(col("k_s"))).head().getLong(0))
  }

  /** d50's dominant-source escape: the per-source rank via
    * [[graft.operators.ShardedOrder]] (16 md5-nibble shards + broadcast
    * offsets) instead of one window partition per source — the d49-style
    * hazard where one source is most of the corpus and its rank
    * serializes into a single task. Bit-identical to
    * [[temperatureSampleOf]] BY CONSTRUCTION (shards partition the md5
    * total order; pinned in PipelineOpsSpec, d37's equality pattern) —
    * swap it in when a source's row count dwarfs a task's comfortable
    * window size.
    */
  private[queries] def temperatureSampleShardedOf(docs: DataFrame): DataFrame = {
    val (quotas, kMax) = temperatureQuotas(docs)
    graft.operators.ShardedOrder.rankAndPrefixSum(
      docs.select(col("doc_id"), col("lang"), col("source")),
      Seq("source"),
      md5(concat(col("doc_id").cast("string"), lit(":temp"))),
      col("doc_id"))
      .withColumnRenamed("rn", "rk")
      .filter(col("rk") <= lit(kMax))
      .join(broadcast(quotas), "source")
      .filter(col("rk") <= col("k_s"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("rk").cast("long").as("src_rank"), col("k_s"))
      .orderBy("doc_id")
  }

  /** d51: embedding distribution drift — the index-maintenance monitor a
    * serving deployment runs on every ingest batch: assign the delta
    * (vec_id ≡ 8,9 mod 10 — d34's deterministic delta discipline) under
    * the STANDING reference model (k-means trained on the other 80%,
    * memoized per corpus — the in-JVM twin of the ModelStore parquet
    * round-trip), and report per cluster: reference/delta member counts,
    * both shares in 10⁴ fixed-point, the absolute share shift, and the
    * out-of-distribution count (delta members farther from their centroid
    * than the reference's p95 squared distance). A large shift or OOD
    * fraction is the retrain/re-shard trigger. Training derives from the
    * reference split only — the delta must not leak into the model it is
    * being judged against.
    *
    * K-means ⇒ no oracle (iterative fixpoint, the d27 family); drift
    * detection, OOD counting, and determinism pinned in PipelineOpsSpec
    * on synthetic shifted batches.
    *
    * Scale shape: the model is the standing asset (zero training actions
    * on a memo hit; ModelStore persists it across JVMs); assignment is
    * one broadcast-centroid scan per side; p95 is a model-sized stat
    * action (d36's discipline); everything after the per-cluster
    * aggregates is k-sized report arithmetic.
    */
  def d51EmbeddingDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val ref = e.filter(pmod(col("vec_id"), lit(10)) < 8)
    val delta = e.filter(pmod(col("vec_id"), lit(10)) >= 8)
    val fresh = new Memo(() => ref.count())
    val prior = corpusNMemo.putIfAbsent(s"drift|$sfDir", fresh)
    val n = (if (prior != null) prior else fresh).value
    val k = math.max(8, math.min(4096, (n / 64).toInt))
    val model = graft.operators.KMeans.fitMemoized(s"drift|$sfDir|$k", ref, k, iters = 3)
    embeddingDriftOf(ref, delta, model.centroids)
  }

  /** d51's report over arbitrary (vec_id, embedding) reference/delta
    * frames and centroids — reusable in specs against planted shifts.
    */
  private[queries] def embeddingDriftOf(ref: DataFrame, delta: DataFrame,
      cents: Array[Array[Double]]): DataFrame = {
    val aRef = graft.operators.KMeans.assignWith(ref, cents)
    val aDel = graft.operators.KMeans.assignWith(delta, cents)
    // the reference's p95 squared distance: one model-sized stat action
    val p95 = aRef.agg(expr("percentile(d2, 0.95)")).head().getDouble(0)
    val r = aRef.groupBy("cluster").agg(count(lit(1)).as("n_ref"))
    val d = aDel.groupBy("cluster").agg(count(lit(1)).as("n_delta"),
      sum(when(col("d2") > p95, 1L).otherwise(0L)).as("n_ood"))
    val joined = r.join(d, Seq("cluster"), "full_outer")
      .na.fill(0L, Seq("n_ref", "n_delta", "n_ood"))
    val tot = joined.agg(sum("n_ref").as("t_ref"), sum("n_delta").as("t_delta"))
    joined.crossJoin(broadcast(tot))
      .withColumn("share_ref_fp", expr("(n_ref * 10000) div greatest(t_ref, 1)"))
      .withColumn("share_delta_fp", expr("(n_delta * 10000) div greatest(t_delta, 1)"))
      .select(col("cluster"), col("n_ref"), col("n_delta"), col("n_ood"),
        col("share_ref_fp"), col("share_delta_fp"),
        abs(col("share_delta_fp") - col("share_ref_fp")).as("shift_fp"))
      .orderBy("cluster")
  }

  /** d53: index cell maintenance — the consumer of d51's drift trigger.
    * Reads the same drift report off the same standing model, flags the
    * cells whose share shift or OOD fraction crosses the maintenance bar
    * (shift ≥ 1500 fp, or OOD ≥ 20% of the cell's delta members), splits
    * exactly those cells via [[graft.operators.CellMaintenance]] grouped
    * 2-means over the combined corpus, and reports one audit row per
    * original cell: the drift evidence, the action taken, and the child
    * cell ids. Unflagged cells are untouched BY CONSTRUCTION (bit-identical
    * centroids, stable ids) — the FAISS "retrain when drifted" loop with
    * cost ∝ flagged share, not corpus size.
    *
    * Composes k-means ⇒ no oracle (the d27/d51 family); rows-only here,
    * with recall-non-regression, only-flagged-cells-retrain, and
    * determinism pinned in CellMaintenanceSpec on planted-shift corpora.
    *
    * Scale shape: the report is k-sized (one collect — d36's model-sized
    * discipline), the full-corpus work is ONE assignment scan, and the
    * split loop touches only flagged members (persisted once).
    */
  def d53IvfMaintain(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val ref = e.filter(pmod(col("vec_id"), lit(10)) < 8)
    val delta = e.filter(pmod(col("vec_id"), lit(10)) >= 8)
    val fresh = new Memo(() => ref.count())
    val prior = corpusNMemo.putIfAbsent(s"drift|$sfDir", fresh)
    val n = (if (prior != null) prior else fresh).value
    val k = math.max(8, math.min(4096, (n / 64).toInt))
    val model = graft.operators.KMeans.fitMemoized(s"drift|$sfDir|$k", ref, k, iters = 3)
    maintainOf(spark, ref, delta, model.centroids)
  }

  /** d53's body over arbitrary reference/delta frames and a standing
    * model — reusable in specs against planted shifts.
    */
  /** The maintenance bar over d51-report rows — ONE flag rule shared by
    * d53's audit and d54's serving pass, so tuning the bar cannot
    * silently diverge the two halves of the loop.
    */
  private def flaggedCells(report: Array[org.apache.spark.sql.Row],
      shiftBarFp: Long = 1500L, oodBarFp: Long = 2000L): Array[Int] =
    report.filter { r =>
      val (nDelta, nOod, shift) = (r.getLong(2), r.getLong(3), r.getLong(6))
      shift >= shiftBarFp || (nDelta > 0 && nOod * 10000L / nDelta >= oodBarFp)
    }.map(_.getInt(0))

  private[queries] def maintainOf(spark: SparkSession, ref: DataFrame,
      delta: DataFrame, cents: Array[Array[Double]],
      shiftBarFp: Long = 1500L, oodBarFp: Long = 2000L): DataFrame = {
    val report = embeddingDriftOf(ref, delta, cents).collect() // k rows
    val flagged = flaggedCells(report, shiftBarFp, oodBarFp)
    val res = graft.operators.CellMaintenance.splitCells(
      ref.unionByName(delta), cents, flagged.toSeq)
    val audit = report.map { r =>
      val c = r.getInt(0)
      res.children.get(c) match {
        case Some((a, b)) => (c, r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(6), "split", a, b)
        case None => (c, r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(6), "keep", c, -1)
      }
    }
    spark.createDataFrame(audit.toSeq)
      .toDF("cluster", "n_ref", "n_delta", "n_ood", "shift_fp",
        "action", "child_a", "child_b")
      .orderBy("cluster")
  }

  /** d54: monitor→maintain→serve closed as ONE driver-checkable query.
    * The maintenance pass (d53's flag rule + cell split) runs ONCE per
    * corpus per JVM and writes its model through [[ModelStore]]; the
    * query then RELOADS that parquet artifact — the cross-JVM serving
    * hand-off, not the in-memory object — and serves the whole corpus's
    * assignments under it, reporting one row per maintained cell:
    * member count and the cell's maintenance role (`kept`, `split_a` =
    * a flagged parent's in-place child, `split_b` = its appended
    * sibling) with the parent id. On a corpus whose delta hasn't
    * drifted past the bar, every cell is honestly `kept` — the planted
    * -shift behavior is what CellMaintenanceSpec pins.
    *
    * K-means family ⇒ rows-only; serve-path job count (reload + one
    * assignment aggregate, ZERO training jobs), output determinism, and
    * the store round-trip are pinned in PipelineOpsSpec /
    * CellMaintenanceSpec.
    *
    * Scale shape: the artifact is k×dim parquet (model-sized read);
    * assignment is the stateless NearestCentroid projection; the served
    * report is one k-cell aggregate. Nothing here retrains.
    */
  def d54MaintainedServe(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables(spark, sfDir, "embeddings").select("vec_id", "embedding")
    val ref = e.filter(pmod(col("vec_id"), lit(10)) < 8)
    val delta = e.filter(pmod(col("vec_id"), lit(10)) >= 8)
    val freshN = new Memo(() => ref.count())
    val priorN = corpusNMemo.putIfAbsent(s"drift|$sfDir", freshN)
    val n = (if (priorN != null) priorN else freshN).value
    val k = math.max(8, math.min(4096, (n / 64).toInt))
    val standing =
      graft.operators.KMeans.fitMemoized(s"drift|$sfDir|$k", ref, k, iters = 3)
    val fresh = new Memo(() => {
      val report = embeddingDriftOf(ref, delta, standing.centroids).collect()
      val res = graft.operators.CellMaintenance.splitCells(
        e, standing.centroids, flaggedCells(report).toSeq)
      val dir = Tables.stagingDir(sfDir, "d54", kind = "model").toString
      graft.operators.ModelStore.saveKMeans(spark, dir,
        graft.operators.CellMaintenance.toModel(e, res))
      (dir, res.children)
    })
    val prior = maintainedMemo.putIfAbsent(s"maint|$sfDir", fresh)
    val (dir, children) = (if (prior != null) prior else fresh).value
    val loaded = graft.operators.ModelStore.loadKMeans(spark, dir, e)
    val roleRows = loaded.centroids.indices.map { c =>
      if (children.contains(c)) (c, "split_a", c)
      else children.collectFirst {
        case (p, (_, b)) if b == c => (c, "split_b", p)
      }.getOrElse((c, "kept", c))
    }
    val roles = spark.createDataFrame(roleRows).toDF("cluster", "role", "parent")
    val counts = loaded.assignments
      .groupBy("cluster").agg(count(lit(1)).as("n_members"))
    roles.join(counts, Seq("cluster"), "left") // an empty cell keeps its row
      .na.fill(0L, Seq("n_members"))
      .select(col("cluster"), col("n_members"), col("role"),
        col("parent").cast("int").as("parent"))
      .orderBy("cluster")
  }
  private val maintainedMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Memo[(String, Map[Int, (Int, Int)])]]()

  /** d55: dataset snapshot diff — the versioning audit run between two
    * corpus releases before retraining: which documents were ADDED,
    * REMOVED, or CHANGED (by content fingerprint), so a data card /
    * incremental pipeline knows exactly what moved. Snapshots are
    * derived deterministically from the one documents table (the d34
    * split discipline): snapshot A = the standing sources
    * (non-src17–19); snapshot B = the current corpus minus simulated
    * deletions (doc_id ≡ 0 mod 17) with simulated edits (doc_id ≡ 0
    * mod 13 re-rendered with a revision suffix). The diff itself is the
    * operator under test: full-outer join on doc_id comparing md5
    * fingerprints, emitting only the rows that moved.
    *
    * Scale shape: fingerprints compute scan-side (no text leaves the
    * scan — at 100 TB the fp IS the shuffled payload, d8's rule), the
    * diff is ONE shuffle on doc_id, and `unchanged` rows — the vast
    * majority between real releases — are filtered before the sort.
    */
  /** d55's release-derivation rule, ONE definition — snapshot A is the
    * standing sources, snapshot B the current corpus minus simulated
    * deletions with simulated edits re-rendered. Shared by the snapshot
    * diff (d55) and the token-drift report (d65) so the versioning
    * audits can never disagree about what a release is.
    */
  private[queries] def snapshotA(docs: DataFrame): DataFrame =
    docs.filter(!col("source").isin("src17", "src18", "src19"))

  private[queries] def snapshotB(docs: DataFrame): DataFrame =
    docs.filter(col("doc_id") % 17 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 13 === 0, concat(col("text"), lit(" [rev2]")))
          .otherwise(col("text")))

  def d55SnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    // presence rides its own marker column, NOT fingerprint NULLness: a
    // NULL-text doc has a NULL fp while being genuinely present, and the
    // oracle keys presence on each side's join key the same way
    val snapA = snapshotA(docs)
      .select(col("doc_id"), md5(col("text")).as("fp_old"),
        lit(true).as("in_a"))
    val snapB = snapshotB(docs)
      .select(col("doc_id"), md5(col("text")).as("fp_new"),
        lit(true).as("in_b"))
    snapA.join(snapB, Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_a").isNull, "added")
          .when(col("in_b").isNull, "removed")
          .otherwise("changed"))
      // present-in-both rows survive only on a DEFINITE fingerprint change
      // (NULL <> NULL is unknown → dropped, matching the oracle's <>)
      .filter(col("in_a").isNull || col("in_b").isNull ||
        col("fp_old") =!= col("fp_new"))
      .select(col("doc_id"), col("status"), col("fp_old"), col("fp_new"))
      .orderBy("doc_id")
  }

  /** d58: reference-trained LM quality score — the CCNet-style filtering
    * discipline d32 deliberately does NOT cover: there the vocabulary is
    * the scored corpus itself; here the language model is trained on a
    * separate REFERENCE slice (source `src0`, the "wikipedia" of this
    * corpus) and every document is scored against it — the train/score
    * separation that makes perplexity filtering meaningful (a corpus
    * cannot bless its own garbage). The score is the per-document mean
    * add-one-smoothed bigram transition probability, in EXACT fixed
    * point instead of log space (libm `ln` last-ulp behavior differs
    * between engines — d32's contract):
    *
    *   p_fp(w1,w2) = ⌊(c₂(w1,w2)+1)·10⁶ / (c₁(w1)+V)⌋
    *   lm_score_fp = ⌊Σ p_fp / n_bigrams⌋
    *
    * where c₂/c₁ are the reference slice's bigram/prefix-occurrence
    * counts and V its distinct-successor vocabulary size (the add-one
    * denominator), all per lang. The numerator rides decimal(38,0)
    * (c₂·10⁶ outgrows int64 near 10¹² reference occurrences — d29's
    * widening rule); DuckDB mirrors with HUGEINT. Monotone in the true
    * smoothed probability, so threshold/rank gates downstream see the
    * same order a float implementation would give.
    *
    * Scale shape: the model tables (refBi/refUni) are REFERENCE-bounded,
    * not corpus-bounded — the two scoring joins shuffle on (lang, w1[,
    * w2]) with the model side orders of magnitude smaller than the
    * occurrence side, and V is a per-lang scalar broadcast. Documents in
    * langs with no reference slice are excluded (no model, no score —
    * inner join on refV), as are sub-2-token docs (no bigrams).
    */
  def d58LmScore(spark: SparkSession, sfDir: String): DataFrame =
    lmScoredOf(spark, sfDir).orderBy("doc_id")

  /** The corpus's scored frame under the StageCache policy — d58 and d61
    * share ONE materialization per corpus (the round-12 verdict's d61
    * score-frame-reuse item); raw plan when the policy is off.
    */
  private def lmScoredOf(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d58_scored") {
      lmScored(Tables(spark, sfDir, "documents"))
    }

  /** d58's body on an arbitrary (doc_id, text, lang, source) frame —
    * reusable in specs (hand-computed mini-corpora pin the arithmetic).
    */
  private[queries] def lmScore(docs: DataFrame): DataFrame =
    lmScored(docs).orderBy("doc_id")

  /** d58's frame without the presentation sort — d61 consumes it under its
    * own windows.
    */
  private def lmScored(docs: DataFrame): DataFrame = {
    val occ = bigramOccurrences(docs)
    val refOcc = occ.filter(col("source") === "src0")
    val refBi = refOcc.groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c2"))
    val refUni = refOcc.groupBy("lang", "w1").agg(count(lit(1)).as("c1"))
    val refV = refOcc.groupBy("lang").agg(countDistinct("w2").as("v"))
    occ
      .join(broadcast(refV), "lang")
      .join(refBi, Seq("lang", "w1", "w2"), "left")
      .join(refUni, Seq("lang", "w1"), "left")
      .withColumn("p_fp", expr(
        "cast((cast(coalesce(c2, 0) + 1 as decimal(38,0)) * 1000000) " +
          "div (coalesce(c1, 0) + v) as bigint)"))
      .groupBy("doc_id", "lang")
      .agg(count(lit(1)).as("n_bigrams"), sum("p_fp").as("p_sum"))
      .withColumn("lm_score_fp", expr("p_sum div n_bigrams"))
      .select("doc_id", "lang", "n_bigrams", "lm_score_fp")
  }

  /** d61: token-budget dataset assembly — the step that turns d58's
    * quality scores into a TRAINING SET: per lang, documents are ranked
    * best-first (lm_score_fp desc, doc_id as the deterministic tiebreak)
    * and taken greedily until the token budget fills — a document is
    * selected iff the tokens accumulated BEFORE it are under budget (so
    * the set always crosses the line once rather than stopping short).
    * This is the data-mixture assembly every LM training run performs
    * ("the best 2 500 tokens of each language"), composed from proven
    * pieces: d58's scoring frame, d20's one-window-per-shard running
    * cumsum, d15's no-RNG rank discipline.
    *
    * Scale shape: scoring is d58's (reference-bounded model joins); the
    * assembly adds ONE window per lang shard (rank + running total in the
    * same window spec, so Spark computes both in a single sort) — the
    * same single-shuffle family as d20/b32. A lang so dominant its
    * window serializes takes d37/d50's ShardedOrder escape unchanged.
    */
  def d61BudgetAssembly(spark: SparkSession, sfDir: String): DataFrame = {
    val budget = 2500L
    val docs = Tables(spark, sfDir, "documents")
    val toks = docs.select(col("doc_id"),
      size(GroupC.tokens(col("text"))).cast("long").as("n_tokens"))
    val w = Window.partitionBy("lang")
      .orderBy(col("lm_score_fp").desc, col("doc_id"))
    lmScoredOf(spark, sfDir).select("doc_id", "lang", "lm_score_fp")
      .join(toks, "doc_id")
      .withColumn("rk", row_number().over(w).cast("long"))
      .withColumn("cum_before",
        coalesce(sum("n_tokens").over(
          w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("cum_before") < budget)
      .select(col("doc_id"), col("lang"), col("lm_score_fp"),
        col("n_tokens"), col("rk"),
        (col("cum_before") + col("n_tokens")).as("cum_tokens"))
      .orderBy("doc_id")
  }

  /** d64: hashing-trick TF vectorization — the HashingTF step that turns
    * raw text into a FIXED-width sparse count vector without a vocabulary
    * pass (Weinberger et al. 2009's feature hashing; the spark.ml
    * HashingTF shape re-expressed engine-exactly): each token hashes to
    * one of 256 buckets and the document becomes its bucket-count map.
    * The bucket hash is the first md5 hex pair — md5 is the one hash both
    * engines share bit-for-bit, which is what makes a HASHED vectorizer
    * oracle-checkable at all (xxhash64/murmur differ across engines).
    * The gate hashes an md5 fingerprint of the sorted "bucket:count"
    * pairs (d8's small-shuffle-row rule) plus nnz/token totals, not the
    * 256-wide vector itself.
    *
    * Scale shape: no vocabulary table ANYWHERE — that is feature
    * hashing's point (TF-IDF's d16 needs the df table; this needs
    * nothing) — so the only shuffle is the (doc_id, bucket) partial agg,
    * ≤ 256 rows per doc, then a per-doc fold. Collision behavior is the
    * standard hashing-trick trade and is deterministic.
    */
  def d64HashedTf(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val tf = docs
      .select(col("doc_id"), explode(GroupC.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .select(col("doc_id"), substring(md5(col("w").cast("binary")), 1, 2).as("bucket"))
      .groupBy("doc_id", "bucket").agg(count(lit(1)).as("c"))
    tf.groupBy("doc_id")
      .agg(count(lit(1)).as("nnz"), sum("c").as("n_tokens"),
        md5(array_join(sort_array(collect_list(
          concat(col("bucket"), lit(":"), col("c")))), ",").cast("binary"))
          .as("vec_fp"))
      .orderBy("doc_id")
  }

  /** d65: token-distribution drift between releases — d51's drift monitor
    * for TEXT: the unigram distributions of two corpus snapshots (d55's
    * exact release derivation, so the three audits share one versioning
    * story) compared bucket-by-bucket over d64's 256 md5 buckets, with
    * per-bucket fixed-point shares and absolute drift. Total variation
    * distance is Σ drift_fp / 2 over the report — derivable from the
    * output, which stays 256 rows at ANY corpus size (the hashed buckets
    * bound the distribution table the way d51's k cells bound the
    * embedding report; an unhashed vocabulary comparison would be
    * corpus-sized).
    *
    * Scale shape: two bucket-count partial aggs (≤ 256 groups), one
    * 256-row full-outer join, shares via a window over the 256-row frame
    * — everything after the scans is constant-sized. Fixed point
    * `⌊c·10⁶/total⌋` keeps both engines bit-identical (d32's contract).
    */
  def d65TokenDrift(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    def buckets(snap: DataFrame, cName: String): DataFrame =
      snap
        .select(explode(GroupC.tokens(col("text"))).as("w"))
        .filter(col("w") =!= "")
        .select(substring(md5(col("w").cast("binary")), 1, 2).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as(cName))
    // d55's release rule, the SHARED definition (snapshotA/snapshotB)
    val snapA = snapshotA(docs)
    val snapB = snapshotB(docs)
    val wAll = Window.partitionBy()
    buckets(snapA, "c_a").join(buckets(snapB, "c_b"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .withColumn("total_a", sum("c_a").over(wAll))
      .withColumn("total_b", sum("c_b").over(wAll))
      // integer `div`, never a double quotient: a double's ulp-below
      // result would floor one off from the exact integer division
      .withColumn("share_a_fp", expr("(c_a * 1000000) div total_a"))
      .withColumn("share_b_fp", expr("(c_b * 1000000) div total_b"))
      .withColumn("drift_fp", abs(col("share_a_fp") - col("share_b_fp")))
      .select("bucket", "c_a", "c_b", "share_a_fp", "share_b_fp", "drift_fp")
      .orderBy("bucket")
  }

  /** d67: exact-substring duplication accounting — the Lee et al. 2021
    * "Deduplicating Training Data" exact-substring pass re-shaped for a
    * distributed engine: every sliding 16-token window (stride 1) is
    * hashed; windows whose text occurs in ≥ 2 distinct documents mark
    * their token span duplicated; per document the overlapping spans
    * MERGE into maximal duplicated ranges (the gaps-and-islands pattern:
    * a range starts where a span begins past the running max end) and
    * the report gives range count, duplicated-token total, and the
    * fixed-point duplicated fraction. Differs from d59 (fixed-aligned
    * spans, membership only) exactly the way the paper's suffix-array
    * pass differs from line dedup: stride-1 windows catch duplication at
    * ANY alignment, and the output localizes it.
    *
    * Scale shape: windows explode scan-side and immediately compress to
    * 8-byte xxhash64 keys (shinglesOf's precedent — set semantics modulo
    * 2⁻⁶⁴ collisions, the accepted trade); the df count is one
    * partial-agg groupBy; span membership is one join against the
    * deduplicated ≥2-doc key set; island merging is ONE window per doc
    * ordered by span start (running max + flag cumsum in the same
    * window spec — one sort), and the final frame is one row per doc.
    */
  def d67ExactSubstring(spark: SparkSession, sfDir: String): DataFrame =
    exactSubstringOf(Tables(spark, sfDir, "documents"))

  /** d67's body on an arbitrary (doc_id, text) frame — reusable in specs
    * (the island-merge edge cases want a hand-built corpus).
    */
  private[queries] def exactSubstringOf(docs: DataFrame): DataFrame = {
    val W = 16
    val toks = docs.select(col("doc_id"), GroupC.tokens(col("text")).as("ts"))
    val wins = toks.filter(size(col("ts")) >= W)
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, size(ts) - $W), " +
          s"i -> struct(i AS s, " +
          s"xxhash64(concat_ws(' ', slice(ts, i + 1, $W))) AS h))")).as("w"))
      .select(col("doc_id"), col("w.s").as("s"), col("w.h").as("h"))
    val dupKeys = wins.groupBy("h")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("h")
    val spans = wins.join(dupKeys, "h")
      .select(col("doc_id"), col("s"), (col("s") + lit(W - 1)).as("e"))
    val wIsl = Window.partitionBy("doc_id").orderBy("s")
    val ranges = spans
      .withColumn("pmax", max("e").over(
        wIsl.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("fresh",
        when(col("pmax").isNull || col("s") > col("pmax") + 1, 1L)
          .otherwise(0L))
      .withColumn("isl", sum("fresh").over(
        wIsl.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "isl")
      .agg(min("s").as("rs"), max("e").as("re"))
    val perDoc = ranges.groupBy("doc_id")
      .agg(count(lit(1)).as("n_dup_ranges"),
        sum(col("re") - col("rs") + 1).as("dup_tokens"))
    toks.select(col("doc_id"), size(col("ts")).cast("long").as("n_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_ranges"), lit(0L)).as("n_dup_ranges"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"))
      .withColumn("dup_fp", expr("(dup_tokens * 10000) div n_tokens"))
      .orderBy("doc_id")
  }

  /** d68: the per-language DATA CARD — the release-notes table a curated
    * corpus ships (Datasheets-for-Datasets style, per lang shard): volume
    * (docs, tokens), provenance concentration (source count + top-source
    * share — the integer stand-in for source entropy), exact-duplicate
    * volume (docs minus distinct texts, c1's rule), quality gate pressure
    * (d18-repetitive docs), and the mean reference-LM score (d58's
    * family, integer mean). Every column is a proven operator's
    * aggregate, composed — the audit cannot disagree with the operators
    * it summarizes.
    *
    * Scale shape: five per-lang partial aggregates (docs/tokens, source
    * counts, text-distinct, repetition, LM means) left-joined on the
    * lang key — each input is a single-shuffle aggregation and the
    * output is one row per lang forever.
    */
  def d68DataCard(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val base = docs
      .select(col("doc_id"), col("lang"), col("source"),
        size(GroupC.tokens(col("text"))).cast("long").as("n_toks"),
        col("text"))
    val vol = base.groupBy("lang").agg(
      count(lit(1)).as("n_docs"),
      sum("n_toks").as("n_tokens"),
      countDistinct("source").as("n_sources"),
      // distinct by 16-byte fingerprint, not the text itself — at 100 TB
      // the fp IS the shuffled payload (d8's rule; collisions ~2⁻¹²⁸)
      countDistinct(md5(col("text"))).as("n_distinct_texts"))
    val topSource = base.groupBy("lang", "source")
      .agg(count(lit(1)).as("sc"))
      .groupBy("lang").agg(max("sc").as("top_sc"))
    val rep = d18Repetition(spark, sfDir)
      .filter(col("repetitive"))
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang").agg(count(lit(1)).as("repetitive_docs"))
    val lm = lmScored(docs).groupBy("lang")
      .agg(sum("lm_score_fp").as("lm_sum"), count(lit(1)).as("lm_n"))
    vol
      .join(broadcast(topSource), "lang")
      .join(broadcast(rep), Seq("lang"), "left")
      .join(broadcast(lm), Seq("lang"), "left")
      .select(col("lang"), col("n_docs"), col("n_tokens"), col("n_sources"),
        expr("(top_sc * 10000) div n_docs").as("top_source_share_fp"),
        (col("n_docs") - col("n_distinct_texts")).as("exact_dup_docs"),
        coalesce(col("repetitive_docs"), lit(0L)).as("repetitive_docs"),
        expr("lm_sum div lm_n").as("mean_lm_score_fp"))
      .orderBy("lang")
  }

  /** d69: Gopher-rule gate — the published heuristic quality rules
    * (Rae et al. 2021, appendix A1.1; reused by RefinedWeb and Dolma) as
    * one scan-bounded projection: per document the word count bounds
    * [50, 100k], mean word length bounds [3, 10], alphabetic-word
    * fraction ≥ 0.8, stopword presence (the 8-word canonical list;
    * Gopher's bar is ≥ 2 hits — this synthetic corpus's vocabulary
    * carries only ONE list word, so the gate runs at ≥ 1 to stay
    * discriminating, with the count reported so either bar is
    * recomputable), and symbol (#/ellipsis) pressure < 0.1 — each
    * reported as
    * its own flag NEXT TO the measured statistic so a curator sees which
    * rule fired, plus the conjunction verdict. Every metric is integer
    * fixed-point (×100 mean length, ×10000 fractions): the gate decision
    * has no float ulp lottery.
    *
    * Scale shape: a pure per-row projection — no shuffle, no state,
    * whole-stage-codegen'd array expressions over the scan; the one
    * ORDER BY is presentation. The cheapest possible gate, composable in
    * front of every downstream op (d22's stage-0 pattern).
    */
  def d69GopherRules(spark: SparkSession, sfDir: String): DataFrame =
    gopherOver(Tables(spark, sfDir, "documents"))

  /** d69's body over any (doc_id, text) frame — shared with c12, which
    * feeds c11's markup-cleaned text through the SAME gate (one
    * definition, so the composed stage-0 pipeline can never drift from
    * the declared d69). The oracle twin is
    * [[GroupC.gopherOracleSql]] (it lives in GroupC because GroupD's
    * object init reads GroupC vals — the reverse reference at init time
    * would cycle).
    */
  private[graft] def gopherOver(docs: DataFrame): DataFrame = {
    val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    docs.select(col("doc_id"), col("text"),
        filter(GroupC.tokens(col("text")), t => t =!= "").as("ts"))
      .select(col("doc_id"),
        size(col("ts")).cast("long").as("n_words"),
        aggregate(transform(col("ts"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x).as("sum_len"),
        size(filter(col("ts"), t => t.rlike("[a-z]"))).cast("long")
          .as("n_alpha"),
        stops.map(s => array_contains(col("ts"), s).cast("long"))
          .reduce(_ + _).as("stop_hits"),
        expr("cast(size(regexp_extract_all(text, '#|\\\\.\\\\.\\\\.', 0)) " +
          "as bigint)").as("n_symbols"))
      .select(col("doc_id"), col("n_words"),
        expr("sum_len * 100 div greatest(n_words, 1)")
          .as("mean_word_len_fp"),
        expr("n_alpha * 10000 div greatest(n_words, 1)").as("alpha_frac_fp"),
        col("stop_hits"),
        expr("n_symbols * 10000 div greatest(n_words, 1)")
          .as("symbol_frac_fp"))
      .withColumn("r_word_count",
        col("n_words").between(50L, 100000L))
      .withColumn("r_mean_len",
        col("mean_word_len_fp").between(300L, 1000L))
      .withColumn("r_alpha", col("alpha_frac_fp") >= 8000L)
      .withColumn("r_stop", col("stop_hits") >= 1L)
      .withColumn("r_symbol", col("symbol_frac_fp") < 1000L)
      .withColumn("keep",
        col("r_word_count") && col("r_mean_len") && col("r_alpha") &&
          col("r_stop") && col("r_symbol"))
      .orderBy("doc_id")
  }

  /** d70: Zipf fit — the "is this shard natural language" corpus
    * diagnostic: per language, rank the unigram vocabulary by frequency
    * and fit log(freq) against log(rank) by least squares (explicit
    * moment sums — each per-term double cast to decimal so the
    * aggregation is exact and merge-order-independent); natural text
    * sits near slope −1, templated or synthetic
    * text drifts shallow (this corpus's word soup measures exactly
    * that). Reported with the vocabulary and token volumes so the slope
    * has its denominators next to it.
    *
    * Scale shape: token explode → (lang, token) partial-agg count — the
    * only corpus-sized shuffle, map-side combined to vocab size. The
    * rank window partitions by lang over the VOCAB frame (the standing
    * LM asset, d16/d45's argument: vocabulary is sublinear in corpus
    * size and the per-lang sort is vocab-sized, not corpus-sized), and
    * regr_slope is one partial-aggregable pass over it.
    */
  def d70ZipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val freq = docs.select(col("lang"),
        explode(GroupC.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("lang", "token").agg(count(lit(1)).as("freq"))
    // least squares via explicit moment sums, each per-term double cast
    // to decimal BEFORE aggregation: decimal addition is exact and
    // associative, so the sums are independent of partition merge order
    // (regr_slope's double buffers are not — review finding, round 13);
    // the one double conversion happens once per final value
    val w = Window.partitionBy("lang").orderBy(col("freq").desc, col("token"))
    def dsum(term: String) =
      expr(s"cast(sum(cast($term as decimal(30,15))) as double)")
    freq.withColumn("rank", row_number().over(w))
      .groupBy("lang").agg(
        count(lit(1)).as("n_types"),
        sum("freq").as("n_tokens"),
        dsum("ln(freq) * ln(rank)").as("sxy"),
        dsum("ln(rank)").as("sx"),
        dsum("ln(freq)").as("sy"),
        dsum("ln(rank) * ln(rank)").as("sxx"))
      .select(col("lang"), col("n_types"), col("n_tokens"),
        round((col("n_types") * col("sxy") - col("sx") * col("sy")) /
          (col("n_types") * col("sxx") - col("sx") * col("sx")), 4)
          .as("zipf_slope"))
      .orderBy("lang")
  }

  /** d71: per-document unigram entropy — the information-theoretic
    * repetition signal next to d18's threshold rule: H = log₂(n) −
    * (Σ c·ln c)/(n·ln 2) over the document's word counts (the
    * numerically stable single-pass form — logs apply once per distinct
    * word, and each c·ln c term is cast to decimal before the sum so
    * the aggregation is exact and merge-order-independent). Low-entropy
    * docs are the "same words over and over" quality rejects that a
    * length gate misses; H is bounded by log₂(n_types), so the flag
    * threshold (< 3 bits) is meaningful across document lengths.
    *
    * Scale shape: (doc_id, token) partial-agg count — corpus-sized but
    * map-side combined, so the first shuffle carries distinct tokens per
    * doc, not raw occurrences — then a doc-keyed partial agg whose
    * shuffle is ≤ one row per (doc, partition). Two small exchanges beat
    * the one-exchange alternative (repartition(doc_id) then both aggs
    * in place), which would shuffle the RAW exploded occurrence stream;
    * no window, no join, no state beyond the aggregation buffers
    * (plan-pinned).
    */
  /** d72: per-source KL divergence from the corpus unigram distribution —
    * the domain-shift diagnostic a mixture designer reads before setting
    * d26/d50's weights: KL(Pₛ‖P_c) = Σ_t pₛ(t)·ln(pₛ(t)/p_c(t)) over the
    * source's tokens (every source token also appears in the corpus
    * distribution by construction, so the divergence is always finite).
    * High-KL sources are the off-distribution feeds (different register,
    * different topic mix); near-zero means the source is a typical slice.
    * Reported in bits with the volume denominators next to it (d70's
    * presentation rule).
    *
    * Scale shape: the corpus is tokenized ONCE — a single (source,
    * token) partial-agg count is the only corpus-sized shuffle, and the
    * corpus distribution, the per-source totals, and the grand total all
    * DERIVE from that vocab×sources frame (c_t = Σₛ c_st — the marginal,
    * not a second scan). The token join's build side is vocab-sized
    * (broadcastable or bucket-joinable at any corpus) and the KL fold sums
    * decimal-cast terms per source (exact, merge-order-independent).
    * Output is one row per source forever.
    */
  def d72SourceDivergence(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val occ = docs.select(col("source"),
        explode(GroupC.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
    val bySource = occ.groupBy("source", "token")
      .agg(count(lit(1)).as("c_st"))
    val corpus = bySource.groupBy("token").agg(sum("c_st").as("c_t"))
    val totals = bySource.groupBy("source").agg(
      sum("c_st").as("n_s"), count(lit(1)).as("n_types"))
    val n = corpus.agg(sum("c_t").as("n_corpus"))
    bySource.join(corpus, "token")
      .groupBy("source")
      // Σ c_st · ln(c_st / c_t): the corpus/source totals factor out of
      // the log and re-enter once per source below; per-term doubles
      // are cast to decimal before the sum so the fold is exact and
      // merge-order-independent (d71's discipline, review finding r13)
      .agg(expr("cast(sum(cast(c_st * (ln(c_st) - ln(c_t)) " +
        "as decimal(30,15))) as double)").as("fold"))
      .join(totals, "source")
      .crossJoin(broadcast(n))
      .select(col("source"), col("n_s").as("n_tokens"), col("n_types"),
        round((col("fold") / col("n_s") +
          log(col("n_corpus")) - log(col("n_s"))) / log(lit(2.0)), 4)
          .as("kl_bits"))
      .orderBy("source")
  }

  /** d74: content-defined chunking — the LBFS/FastCDC boundary rule
    * (public: Muthitacharoen et al. 2001; Xia et al. 2016) a dedup/
    * packing pipeline uses instead of fixed windows: a chunk boundary
    * falls AFTER any 8-char window whose content hash ≡ 0 (mod 29), so
    * an edit shifts only the chunks it touches — the property fixed
    * d28-style chunking lacks. Emits the per-doc chunk table (index,
    * start, length, md5) ready for corpus-wide chunk dedup. The window
    * hash is md5-derived (engine-identical, the repo's no-RNG oracle
    * discipline); a production deployment swaps in a gear/Rabin rolling
    * hash behind the SAME plan shape — the boundary rule is the
    * operator's contract, the hash is an implementation detail the
    * oracle pins here.
    *
    * Scale shape (round-14 rewrite): the ENTIRE chunking is one
    * scan-side projection — cut positions fold to a per-row array
    * (filter∘transform over the window sequence), chunk boundaries zip
    * starts/ends per row, and the chunk structs (index, start, length,
    * md5-of-slice) explode from the same row the text lives in. Zero
    * joins, zero windows: document text NEVER crosses an exchange (the
    * family rule d8/d59/d67 follow), which the r13 version broke with a
    * cut-list→text join on doc_id — at 100 TB that exchange shipped the
    * corpus once. The only shuffle left is the presentation sort, and it
    * carries 16-byte md5 chunk rows, not text (plan-pinned in
    * PlanShapeSpec). Min/max chunk-length clamps (FastCDC's
    * normalization) would fold into the same cuts array scan-side.
    */
  def d74CdcChunks(spark: SparkSession, sfDir: String): DataFrame =
    // the chunk table is the shared hub of the CDC family (d75 consumes
    // it for cross-doc dedup accounting) and its 5M-window hash pass is
    // the cost — one materialization per corpus under the StageCache
    // policy (d1Pairs' rule; specs exercise the raw plan)
    graft.operators.StageCache.persisted(s"$sfDir#d74_chunks")(
      cdcChunksOf(Tables(spark, sfDir, "documents")))

  /** d74's body on an arbitrary (doc_id, text) frame — reusable in specs
    * (tiling and edit-stability want hand-built corpora).
    */
  private[queries] def cdcChunksOf(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("text"),
        length(col("text")).cast("long").as("n"))
      // cut positions (the char AFTER which a chunk ends): any 8-char
      // window whose hash ≡ 0 (mod 29) and whose end is strictly inside
      // the doc. Sentinel -1 marks non-cuts; filter strips them — the
      // whole fold stays inside this row's projection.
      .withColumn("cuts", expr(
        "IF(n >= 8, filter(transform(sequence(1L, n - 7L), i -> " +
          "IF(cast(conv(substring(md5(substring(text, cast(i as int), " +
          "8)), 1, 4), 16, 10) as bigint) % 29 = 0 AND i + 7L < n, " +
          "i + 7L, -1L)), c -> c > 0L), " +
          "array_remove(array(-1L), -1L))"))
      // chunk j spans [starts[j], ends[j]]; starts = 1 :: cuts+1,
      // ends = cuts :: n — zipped by index in one more transform
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(cuts)), j -> struct(" +
          "cast(j + 1 as bigint) AS chunk_idx, " +
          "IF(j = 0, 1L, cuts[j - 1] + 1L) AS start_pos, " +
          "IF(j = size(cuts), n, cuts[j]) " +
          "- IF(j = 0, 1L, cuts[j - 1] + 1L) + 1L AS chunk_len, " +
          "md5(cast(substring(text, " +
          "cast(IF(j = 0, 1L, cuts[j - 1] + 1L) as int), " +
          "cast(IF(j = size(cuts), n, cuts[j]) " +
          "- IF(j = 0, 1L, cuts[j - 1] + 1L) + 1L as int)) " +
          "as binary)) AS chunk_md5))")).as("ch"))
      .select(col("doc_id"), col("ch.chunk_idx"), col("ch.start_pos"),
        col("ch.chunk_len"), col("ch.chunk_md5"))
      .orderBy("doc_id", "chunk_idx")

  /** d75: chunk-level dedup accounting — the reason d74 exists: which
    * chunks recur across DIFFERENT documents (boilerplate, quoted
    * passages, syndicated fragments), per document. A chunk is "shared"
    * when its md5 occurs in ≥ 2 distinct docs (d67's df≥2 rule at chunk
    * granularity, but content-defined so edits don't hide the overlap);
    * the report gives per-doc chunk volume, shared-chunk count, shared
    * character total, and the fixed-point shared fraction. Short chunks
    * (< 16 chars) are excluded from the SHARED test — a 1-char chunk
    * recurring is noise, not duplication (the same reason d67 windows 16
    * tokens) — but still count in the volume denominators.
    *
    * Scale shape: d74's chunk table (its plan, not a rescan) → one
    * (md5) partial-agg distinct-doc count — the build side is the df≥2
    * TAIL, far smaller than the chunk stream (d59's membership-join
    * argument, broadcast/bucket at any corpus) — then a per-doc partial
    * agg. The 16-byte md5 is the only corpus-sized shuffle payload;
    * text never moves.
    */
  def d75ChunkDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = d74CdcChunks(spark, sfDir)
      .select("doc_id", "chunk_len", "chunk_md5")
    val eligible = chunks.filter(col("chunk_len") >= 16L)
    val sharedKeys = eligible.groupBy("chunk_md5")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("chunk_md5")
    val shared = eligible.join(sharedKeys, "chunk_md5")
      .groupBy("doc_id").agg(
        count(lit(1)).as("shared_chunks"),
        sum("chunk_len").as("shared_chars"))
    chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"), sum("chunk_len").as("n_chars"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_chunks"), col("n_chars"),
        coalesce(col("shared_chunks"), lit(0L)).as("shared_chunks"),
        coalesce(col("shared_chars"), lit(0L)).as("shared_chars"))
      .withColumn("shared_fp",
        expr("shared_chars * 10000 div greatest(n_chars, 1)"))
      .orderBy("doc_id")
  }

  /** d76: language-ID confusion matrix — the QA report for d5's gate:
    * per (true_lang, pred_lang) cell, the document count, that cell's
    * fixed-point share of its TRUE language's row, and the hit flag.
    * The diagonal's share IS per-language recall; off-diagonal hot
    * cells say which languages the n-gram heuristic confuses — the
    * evidence a curator needs before trusting d5 to route d26's
    * mixture. Composes d5's prediction frame verbatim (one predictor,
    * two reports — the d14/d46 rule), and its oracle embeds the SAME
    * predictor SQL the d5 oracle uses, so the two checks cannot drift.
    *
    * Scale shape: d5's per-doc aggregation is the only corpus-sized
    * work; the confusion matrix is a (langs × langs+1) partial-agg
    * groupBy over 2-string rows, and the share join's build side is
    * langs-sized. Output is ≤ |langs|·(|langs|+1) rows forever.
    */
  def d76LangConfusion(spark: SparkSession, sfDir: String): DataFrame = {
    val pred = d5LangId(spark, sfDir).select("doc_id", "pred_lang")
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "lang")
    val cells = docs.join(pred, "doc_id")
      .groupBy(col("lang").as("true_lang"), col("pred_lang"))
      .agg(count(lit(1)).as("n"))
    val totals = cells.groupBy("true_lang")
      .agg(sum("n").as("total"))
    cells.join(broadcast(totals), "true_lang")
      .select(col("true_lang"), col("pred_lang"), col("n"),
        expr("n * 10000 div total").as("share_fp"),
        (col("true_lang") === col("pred_lang")).as("hit"))
      .orderBy("true_lang", "pred_lang")
  }

  /** d77: shared-chunk REMOVAL — the transform d75's accounting exists
    * for: reconstruct each document with its cross-doc shared chunks
    * (d75's df≥2, len≥16 rule) cut out — the CDC-grained boilerplate
    * strip next to d59's span rule, robust to alignment because the
    * chunk boundaries are content-defined. Reports per doc what was
    * kept/removed and the md5 of the CLEANED text (the fingerprint, not
    * the body, is what the gate hashes — d8/c6's small-shuffle-row
    * discipline), so the transform is verified without ever shipping
    * reconstructed text through the compare.
    *
    * Scale shape: chunk pieces re-derive by substring against the
    * doc-keyed text join (no second window pass — d74's cached frame
    * carries offsets); the only text shuffle is the per-doc piece
    * collect, doc-bounded by construction, and the reassembly is one
    * array_sort over ≤ chunks-per-doc structs. Shared-key build side is
    * the df≥2 tail (d75's argument).
    */
  def d77RemoveSharedChunks(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents").select("doc_id", "text")
    val chunks = d74CdcChunks(spark, sfDir)
      .select("doc_id", "chunk_idx", "start_pos", "chunk_len", "chunk_md5")
    val sharedKeys = chunks.filter(col("chunk_len") >= 16L)
      .groupBy("chunk_md5")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2).select("chunk_md5")
    val flagged = chunks
      .join(sharedKeys.withColumn("shared", lit(true)), Seq("chunk_md5"), "left")
      .withColumn("shared",
        coalesce(col("shared"), lit(false)) && col("chunk_len") >= 16L)
    val pieces = flagged.join(docs, "doc_id")
      .withColumn("piece", expr(
        "substring(text, cast(start_pos as int), cast(chunk_len as int))"))
    pieces.groupBy("doc_id").agg(
        sum(when(!col("shared"), 1L).otherwise(0L)).as("kept_chunks"),
        sum(when(!col("shared"), col("chunk_len")).otherwise(0L))
          .as("kept_chars"),
        sum(when(col("shared"), 1L).otherwise(0L)).as("removed_chunks"),
        sum(when(col("shared"), col("chunk_len")).otherwise(0L))
          .as("removed_chars"),
        collect_list(when(!col("shared"),
          struct(col("chunk_idx"), col("piece")))).as("kept"))
      .select(col("doc_id"), col("kept_chunks"), col("kept_chars"),
        col("removed_chunks"), col("removed_chars"),
        md5(expr("array_join(transform(array_sort(kept), x -> x.piece), '')")
          .cast("binary")).as("cleaned_md5"))
      .orderBy("doc_id")
  }

  /** d78: IMAGE near-dup dedup — the modality the dedup ladder was
    * missing (text c2/d1/d2 ✓, embedding d9/d10 ✓, chunk d75 ✓): pairs
    * of images whose perceptual difference-hash (dHash-64, the native
    * pixel-decoding [[graft.functions.BmpDhash]]) differ in ≤ 3 of 64
    * bits, found by banded Hamming LSH. Banding is EXACT here, not
    * approximate: 4 disjoint 16-bit bands and threshold 3 means any
    * qualifying pair has ≥ 1 band with zero differing bits (pigeonhole),
    * so the equi-join on (band, key) generates every true pair and the
    * bit_count verify filters false candidates — same contract shape as
    * d1's verify, but with zero recall loss.
    *
    * The c8 oracle discipline one level deeper: content bytes are a real
    * 24-bit BMP CONSTRUCTED from doc_id arithmetic (9×8 px, bottom-up
    * rows, 4-byte stride padding — every pixel B=G=R so integer luma is
    * exact), pixel-DECODED back by the native walk, and the oracle never
    * sees bytes: it re-derives each image's 64 comparison bits from the
    * same doc_id arithmetic and computes Hamming distances directly.
    * Docs ≡ 0 (mod 17) carry junk bytes — the walk must refuse them
    * (NULL), both sides exclude them. Families of 4 consecutive doc_ids
    * share a base pattern with 0–3 per-doc bit flips, so real near-dup
    * structure exists at every scale factor.
    *
    * Scale shape: construction+decode+banding are one scan-side
    * projection (the real pipeline reads `content` from parquet — the
    * plan from the decode on is identical); the only corpus-sized
    * shuffle carries (band, 16-bit key, 8-byte hash) rows — never
    * pixels; the self-join is band-bucketed like d1's, candidate volume
    * bounded by band-key collisions, and the merge hint shares one
    * exchange across both sides.
    */
  // BITMAPFILEHEADER + BITMAPINFOHEADER for the constructed 9×8 24bpp
  // bottom-up bitmap: "BM", file size 278, pixel offset 54, DIB 40,
  // planes 1, BI_RGB, stride 28 (27 + 1 pad), image size 224
  private val BmpHeaderHex: String =
    "424D160100000000000036000000" +
      "280000000900000008000000" +
      "01001800" +
      "00000000E0000000" +
      "130B0000130B0000" +
      "0000000000000000"

  /** The 64 comparison bits of doc_id's constructed pattern: family base
    * bit (double middle-square mix — measured zero cross-family pairs at
    * 5 000 docs where one squaring round still left 844 structural
    * near-collisions) XOR a run of `doc_id mod 4` per-doc flips starting
    * at position `doc_id mod 61` — all bigint arithmetic the oracle
    * repeats verbatim, with every intermediate reduced below √(2⁶³) so
    * neither engine's multiplication can overflow at any scale factor.
    */
  private val bmpBitsExpr: String =
    "transform(sequence(0L, 63L), k -> " +
      "((((((doc_id div 4) * 1000003L + k * 7919L + 12345L) % 1000000007L)" +
      " * (((doc_id div 4) * 1000003L + k * 7919L + 12345L) % 1000000007L)" +
      " % 2147483647L)" +
      " * ((((doc_id div 4) * 1000003L + k * 7919L + 12345L) % 1000000007L)" +
      " * (((doc_id div 4) * 1000003L + k * 7919L + 12345L) % 1000000007L)" +
      " % 2147483647L) % 2147483647L div 1024L % 2L" +
      " + IF(k >= doc_id % 61 AND k < doc_id % 61 + doc_id % 4, 1L, 0L))" +
      " % 2L))"

  /** The 8 storage rows (bottom row first) as hex: each logical row is a
    * luma walk from 128 stepping −10 on a 1-bit, +10 on a 0-bit, so
    * cell (r,c) > cell (r,c+1) iff bit r·8+c is set; pixels are BGR
    * triples of the walk value plus the 1-byte stride pad. `bits` is the
    * 64-element pattern array computed once per doc.
    */
  private val bmpPixelsHex: String = {
    val step = "IF(bits[(7 - s) * 8 + c - 1] = 1L, -10L, 10L)"
    "concat_ws('', transform(sequence(0, 7), s -> " +
      "aggregate(sequence(1, 8), " +
      "named_struct('v', 128L, 'hx', repeat('80', 3)), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, repeat(lpad(hex(acc.v + $step), 2, '0'), 3))), " +
      "acc -> concat(acc.hx, '00'))))"
  }

  private[queries] val bmpContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$BmpHeaderHex', $bmpPixelsHex)))"

  /** d78's construct→decode stage: one (doc_id, dhash) row per parseable
    * image — split out so specs/tools can probe the decode separately
    * from the banding join.
    */
  /** r21: the hashed frame is itself a StageCache entry behind a lazy
    * checkpoint — three declared consumers derive from it (the d78_pairs
    * hub build, d83's incremental probe/standing split, d90's decode
    * census), and without the entry each of them re-ran the
    * construct+decode per bench pass (the pairs hub caches PAIRS, not
    * the decode stage). The materialized rows are (doc_id, 8-byte
    * dhash); the checkpoint leaf also supersedes the second repartition
    * barrier's anti-inline job for consumers (the barrier stays for the
    * raw/spec plan shape).
    */
  def d78Hashed(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d78_hashed") {
      d78HashedRaw(spark, sfDir).localCheckpoint(false)
    }

  private def d78HashedRaw(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(bmpBitsExpr).as("bits"))
      // CONSTRUCTION-ONLY barrier: without it CollapseProject inlines the
      // 64-element `bits` transform into each of the pixel walk's ~128
      // array references and the interpreted HOF re-evaluates it per
      // reference (measured 49 s at sf0.1; 1.3 s with the barrier). The
      // exchange carries 5 000 tiny (doc_id, 64×long) rows and exists
      // only on the synthetic-bytes side — the real pipeline reads
      // `content` from parquet and starts at the decode below.
      .repartition(col("doc_id"))
      .select(col("doc_id"), expr(bmpContentExpr).as("content"))
      .select(col("doc_id"), expr(s"${graft.functions.GraftFunctions
        .BmpDhashName}(content)").as("dhash"))
      // NO isNotNull filter here, deliberately: a Filter on `dhash`
      // pushes through the repartition barrier below it and lands
      // adjacent to the bits/content projections, where predicate
      // inlining rebuilds and re-decodes the bytes once per reference —
      // measured 25 s of the original 27 s at sf0.1. Unparseable rows
      // (NULL dhash) produce NULL band keys and die in the inner
      // equi-join with zero extra code.
      // second barrier: downstream the band transform and both join
      // sides reference `dhash` — inlined, every reference would rebuild
      // the bytes and re-decode them. Materializing the (doc_id, 8-byte
      // dhash) rows here means construct+decode runs once per doc, and
      // the self-join's two sides REUSE this one exchange.
      .repartition(col("doc_id"))
  }

  /** d79: IMAGE RESIZE — the real pixel transform the multimodal
    * mandate's resize step called for ([[graft.functions.BmpResize]]:
    * per-channel box-average downsampling emitting a fresh canonical
    * BMP), driven end to end under the hash gate: each doc's bytes are
    * the PIXEL-DOUBLED 18×16 rendering of its d78 pattern, the native
    * resize brings them back to 9×8, and the resized bytes are
    * re-decoded by the header walk (dims) and [[graft.functions
    * .BmpDhash]] (pixels). Because every 2×2 source block is constant,
    * the box average is exact and the resized image IS the direct 9×8
    * construction — so the oracle re-derives the reported dHash from
    * doc_id arithmetic (as two 32-bit halves rendered canonical-hex,
    * dodging 64-bit shift overflow in SQL) without ever seeing bytes.
    * Junk docs (≡ 0 mod 17) pin the refusal path: resize NULL,
    * downstream fields NULL.
    *
    * Scale shape: one scan-side projection per stage with d78's
    * materialization barriers (the HOF construction must not inline into
    * downstream references); no joins, no aggregation — the resize pass
    * is embarrassingly parallel at any corpus size, and at 100 TB reads
    * `content` from parquet instead of constructing it.
    */
  private val Bmp18HeaderHex: String =
    "424DB6030000000000003600000028000000120000001000000001001800" +
      "0000000080030000130B0000130B00000000000000000000"

  private val bmp18PixelsHex: String = {
    // storage rows 0..15 bottom-up; logical row 15-s, walk row (15-s)/2;
    // each walk pixel spans 2 columns (6 bytes) and each walk row 2 rows
    val step = "IF(bits[((15 - s) div 2) * 8 + c - 1] = 1L, -10L, 10L)"
    "concat_ws('', transform(sequence(0, 15), s -> " +
      "aggregate(sequence(1, 8), " +
      "named_struct('v', 128L, 'hx', repeat('80', 6)), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, repeat(lpad(hex(acc.v + $step), 2, '0'), 6))), " +
      "acc -> concat(acc.hx, '0000'))))"
  }

  private[queries] val bmp18ContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$Bmp18HeaderHex', $bmp18PixelsHex)))"

  def d79ImageResize(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val resized = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(bmpBitsExpr).as("bits"))
      .repartition(col("doc_id")) // d78's construction barrier
      .select(col("doc_id"), expr(bmp18ContentExpr).as("content"))
      .select(col("doc_id"), expr(s"${graft.functions.GraftFunctions
        .BmpResizeName}(content, 9, 8)").as("resized"))
      // materialize the resized bytes once: the dims walks and the dHash
      // below each reference them several times
      .repartition(col("doc_id"))
    graft.multimodal.Multimodal.imageDimsPlan(resized, "resized")
      .select(col("doc_id"),
        col("img_format").as("r_format"),
        col("img_width").as("r_w"),
        col("img_height").as("r_h"),
        lpad(hex(expr(s"${graft.functions.GraftFunctions
          .BmpDhashName}(resized)")), 16, "0").as("dhash_hex"))
      .orderBy("doc_id")
  }

  /** d78's verified pair list without the presentation sort — the hub
    * frame d80's component labeling consumes (d1Pairs/d14's shape at the
    * image modality); StageCache'd so the construct+decode+band pass
    * pays once per corpus.
    */
  def d78Pairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d78_pairs")(
      d78PairsRaw(spark, sfDir))

  private def d78PairsRaw(spark: SparkSession, sfDir: String): DataFrame = {
    val hashed = d78Hashed(spark, sfDir)
    val bands = hashed.select(col("doc_id"), col("dhash"),
      posexplode(expr(
        "transform(sequence(0, 3), t -> shiftright(dhash, t * 16) & 65535L)"))
        .as(Seq("band", "key")))
    bands.as("x").hint("merge")
      .join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        // coalesce is a semantic no-op (matched rows always carry
        // non-null hashes — a NULL hash yields NULL band keys and never
        // survives the equi-join) but it is NULL-TOLERANT, so constraint
        // inference cannot derive `isnotnull(dhash)` from this predicate
        // and push it below the barriers — where the inlined
        // reconstruction costs 25 s at sf0.1 (same pathology as the
        // removed explicit filter, see d78Hashed).
        expr("cast(bit_count(coalesce(x.dhash, 0L) ^ coalesce(y.dhash, 0L))" +
          " as bigint)").as("hamming"))
      .filter(col("hamming") <= 3L)
      .distinct()
  }

  def d78ImageDedup(spark: SparkSession, sfDir: String): DataFrame =
    d78Pairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** d80: IMAGE near-dup CLUSTERS — d14's component labeling at the
    * image modality, closing the dedup lifecycle for images the same way
    * text has it (pairs → clusters → keep/remove decisions): connected
    * components over d78's verified pair list, labeled by the iterative
    * [[graft.operators.ConnectedComponents]] propagation (min-id label,
    * delta-bounded rounds), with per-cluster sizes attached. Both the
    * pair hub and the labeled frame ride the StageCache policy
    * (iterative propagation is the most re-derivation-hostile shape
    * there is — d14's argument verbatim).
    *
    * Scale shape: inherited — pair volume is band-collision-bounded
    * (d78), propagation shuffles only (id, label) pairs per round with
    * localCheckpoint lineage truncation, sizes are one partial agg on
    * the component key.
    */
  def d80ImageClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val clustered = graft.operators.StageCache.persisted(
        s"$sfDir#d80_clusters") {
      val pairs = d78Pairs(spark, sfDir).select("doc_a", "doc_b")
      val labels = graft.operators.ConnectedComponents
        .label(pairs, src = "doc_a", dst = "doc_b")
      val sizes = labels.groupBy("component")
        .agg(count(lit(1)).as("cluster_size"))
      labels.join(sizes, "component")
        .select(col("id").as("doc_id"), col("component").as("cluster_id"),
          col("cluster_size"))
    }
    clustered.orderBy("doc_id")
  }

  /** d81: IMAGE keep-best — d46's representative election at the image
    * modality, with the criterion that actually matters for images:
    * RESOLUTION. Docs alternate between the 9×8 rendering and its
    * pixel-doubled 18×16 twin (same dHash by construction — the classic
    * same-image-different-resolution case real crawls are full of), so
    * clusters mix resolutions and the election keeps the largest pixel
    * count (ties broken by smallest doc_id, the deterministic-tiebreak
    * discipline). Resolution comes from DECODING the constructed bytes
    * (the header walk), not from the arithmetic — the decode is in the
    * gate.
    *
    * Scale shape: d80's cached cluster frame join a scan-side dims
    * decode; the election is one WindowGroupLimit-shaped rank per
    * cluster over cluster-sized groups.
    */
  def d81ImageKeepBest(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val mixed = Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(bmpBitsExpr).as("bits"))
      .repartition(col("doc_id")) // d78's construction barrier
      .select(col("doc_id"), expr(
        s"IF(doc_id % 2 = 0, $bmp18ContentExpr, $bmpContentExpr)")
        .as("content"))
      // barrier before the dims walk's many content references
      .repartition(col("doc_id"))
    val dims = graft.multimodal.Multimodal.imageDimsPlan(mixed, "content")
      .select(col("doc_id"), (col("img_width") * col("img_height")).as("px"))
    val w = Window.partitionBy("cluster_id")
      .orderBy(col("px").desc, col("doc_id"))
    d80ImageClusters(spark, sfDir)
      .select("doc_id", "cluster_id")
      .join(dims, "doc_id")
      .withColumn("keep", row_number().over(w) === 1)
      .select(col("doc_id"), col("cluster_id"), col("px"), col("keep"))
      .orderBy("doc_id")
  }

  /** d82: AUDIO near-dup dedup — the last modality on the dedup ladder
    * (text ✓, embedding ✓, chunk ✓, image ✓): pairs of PCM WAVs whose
    * energy-envelope hash ([[graft.functions.WavEnergyHash]] — a real
    * SAMPLE-level decode, 65 windows of exact integer energy, dHash-64
    * over the envelope) differ in ≤ 3 of 64 bits, by the same
    * 4×16-bit-band pigeonhole-exact Hamming join as d78.
    *
    * Construction mirrors d78 one modality over: each doc renders its
    * 64-bit pattern as a mono 16-bit PCM WAV (65 windows × 8 constant
    * samples walking 10000 ± 100 per bit, so window energies reproduce
    * the comparisons exactly); families of 5 consecutive doc_ids share a
    * base pattern with 0–3 per-doc flips (distinct mixer constants from
    * d78 so the two modalities' cluster structures differ); docs ≡ 0
    * (mod 17) carry junk the sample walk must refuse. The oracle
    * re-derives the bits arithmetically and computes Hamming directly —
    * it never sees bytes.
    *
    * Scale shape: d78's verbatim — construction barriers, scan-side
    * decode, (band, key, hash) shuffle rows only, null-tolerant hamming
    * predicate so no inferred filter re-derives the decode at the scan.
    */
  private val wavBitsExpr: String =
    "transform(sequence(0L, 63L), k -> " +
      "((((((doc_id div 5) * 999983L + k * 8263L + 54321L) % 1000000007L)" +
      " * (((doc_id div 5) * 999983L + k * 8263L + 54321L) % 1000000007L)" +
      " % 2147483647L)" +
      " * ((((doc_id div 5) * 999983L + k * 8263L + 54321L) % 1000000007L)" +
      " * (((doc_id div 5) * 999983L + k * 8263L + 54321L) % 1000000007L)" +
      " % 2147483647L) % 2147483647L div 1024L % 2L" +
      " + IF(k >= doc_id % 59 AND k < doc_id % 59 + doc_id % 4, 1L, 0L))" +
      " % 2L))"

  // RIFF/WAVE + fmt(PCM mono 16-bit 8 kHz) + data(1040 B = 520 samples)
  private val WavHeaderHex: String =
    "52494646" + "34040000" + "57415645" +
      "666D7420" + "10000000" + "0100" + "0100" +
      "401F0000" + "803E0000" + "0200" + "1000" +
      "64617461" + "10040000"

  /** 65 windows × 8 identical LE samples: the walk starts at 10000 and
    * steps −100 on a 1-bit, +100 on a 0-bit, so window k is strictly
    * louder than k+1 exactly when bit k is set (range 3600–16400 —
    * safely inside 16-bit signed).
    */
  private val wavSamplesHex: String = {
    val step = "IF(bits[c - 1] = 1L, -100L, 100L)"
    def le16(v: String) =
      s"concat(substring(lpad(hex($v), 4, '0'), 3, 2), " +
        s"substring(lpad(hex($v), 4, '0'), 1, 2))"
    "aggregate(sequence(1, 64), " +
      s"named_struct('v', 10000L, 'hx', repeat(${le16("10000L")}, 8)), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, repeat(${le16(s"acc.v + $step")}, 8))), " +
      "acc -> acc.hx)"
  }

  private[queries] val wavContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$WavHeaderHex', $wavSamplesHex)))"

  /** d82's verified pair list without the presentation sort — StageCache'd
    * (d78Pairs' policy) so c10's dedup-volume card reuses the one
    * construct+decode+band pass instead of re-running it.
    */
  /** d82's construct→decode stage (d78Hashed's shape at the audio
    * modality) — split out in r19 so d94's funnel can census the decode
    * without re-opening the banding join. */
  private[queries] def d82Hashed(spark: SparkSession, sfDir: String)
      : DataFrame =
    // r21: StageCache + lazy checkpoint like d78Hashed — the pair hub
    // build and d94's decode census both derive from this frame, and the
    // 1 KB-per-doc sample construction dominates the modality's cost
    graft.operators.StageCache.persisted(s"$sfDir#d82_hashed") {
      d82HashedRaw(spark, sfDir).localCheckpoint(false)
    }

  private def d82HashedRaw(spark: SparkSession, sfDir: String)
      : DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(wavBitsExpr).as("bits"))
      .repartition(col("doc_id")) // construction barrier (d78's lesson)
      .select(col("doc_id"), expr(wavContentExpr).as("content"))
      .select(col("doc_id"), expr(s"${graft.functions.GraftFunctions
        .WavEnergyHashName}(content)").as("ehash"))
      .repartition(col("doc_id")) // decode-once barrier (d78's lesson)
  }

  private[queries] def d82Pairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d82_pairs") {
      val hashed = d82Hashed(spark, sfDir)
      val bands = hashed.select(col("doc_id"), col("ehash"),
        posexplode(expr(
          "transform(sequence(0, 3), t -> shiftright(ehash, t * 16) & 65535L)"))
          .as(Seq("band", "key")))
      bands.as("x").hint("merge")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          // null-tolerant on purpose — see d78PairsRaw
          expr("cast(bit_count(coalesce(x.ehash, 0L) ^ coalesce(y.ehash, 0L))" +
            " as bigint)").as("hamming"))
        .filter(col("hamming") <= 3L)
        .distinct()
    }

  def d82AudioDedup(spark: SparkSession, sfDir: String): DataFrame =
    d82Pairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** d83: INCREMENTAL image dedup — d34's weekly-ingest rule at the
    * image modality, and the batch body of the [[graft.streaming
    * .StreamImageDedup]] gate: the delta — whole FAMILIES arriving
    * together (family ≡ 0 mod 3), the shape a new source shard actually
    * has — is admitted against the standing base (everything else): a
    * delta
    * image drops if its dHash is within Hamming 3 of ANY base image, or
    * of a SMALLER-id delta peer; survivors are reported. The dup rule is
    * the SHARED [[graft.operators.PerceptualDedup]] definition the
    * streaming gate runs per micro-batch, so query and gate cannot
    * drift. Junk delta docs (unparseable, NULL hash) pass through —
    * the gate's monotone contract — and the oracle mirrors that by
    * construction (junk ids never appear in the pair set).
    *
    * Scale shape: the probe side is the delta, the standing side streams
    * once through the band join and never self-joins (d34's contract);
    * only (id, 8-byte hash) rows shuffle.
    */
  def d83ImageDedupIncremental(spark: SparkSession, sfDir: String)
      : DataFrame = {
    val hashed = d78Hashed(spark, sfDir)
    val delta = hashed.filter(expr("(doc_id div 4) % 3 = 0"))
      .toDF("id", "hash")
    val base = hashed.filter(expr("(doc_id div 4) % 3 != 0"))
      .toDF("id", "hash")
    val dups = graft.operators.PerceptualDedup.dupIds(delta, base, maxDist = 3)
    delta.select(col("id").as("doc_id"))
      .join(dups.withColumnRenamed("id", "doc_id"), Seq("doc_id"), "left_anti")
      .orderBy("doc_id")
  }

  /** d84: PNG near-dup dedup — d78's image dedup moved onto the format
    * image crawls actually contain: each doc renders its 64-bit pattern
    * as a REAL 9×8 8-bit grayscale PNG (a well-formed zlib stream whose
    * deflate payload is one STORED block over filter-type-0 scanlines —
    * stored blocks keep the byte layout deterministic, so the
    * constructed-bytes oracle discipline that anchors every shipped
    * byte-walk holds for a COMPRESSED container too), and the native
    * [[graft.functions.PngDhash]] walks chunks, inflates IDAT with the
    * pure-JDK Inflater, unfilters, and dHashes the pixels through the
    * SHARED [[graft.functions.Dhash64]] cell rule — so these PNGs dedup
    * against BMP renderings of the same pixels, the cross-format
    * property real crawls need. Families of 6 consecutive doc_ids share
    * a base pattern with 0–4 per-doc flips (distinct mixer constants
    * from d78/d82 so the three modality families cluster differently);
    * docs ≡ 0 mod 17 carry junk the decode must refuse. The oracle
    * re-derives the bits arithmetically and computes Hamming directly —
    * it never sees bytes.
    *
    * Scale shape: d78's verbatim — construction barriers, scan-side
    * decode, (band, key, hash) shuffle rows only, null-tolerant hamming
    * predicate so no inferred filter re-derives the decode at the scan.
    */
  private val pngBitsExpr: String =
    "transform(sequence(0L, 63L), k -> " +
      "((((((doc_id div 6) * 1000033L + k * 7489L + 13579L) % 1000000007L)" +
      " * (((doc_id div 6) * 1000033L + k * 7489L + 13579L) % 1000000007L)" +
      " % 2147483647L)" +
      " * ((((doc_id div 6) * 1000033L + k * 7489L + 13579L) % 1000000007L)" +
      " * (((doc_id div 6) * 1000033L + k * 7489L + 13579L) % 1000000007L)" +
      " % 2147483647L) % 2147483647L div 1024L % 2L" +
      " + IF(k >= doc_id % 57 AND k < doc_id % 57 + doc_id % 5, 1L, 0L))" +
      " % 2L))"

  /** PNG preamble through the IDAT stored-block header: signature, IHDR
    * (9×8, depth 8, grayscale, no interlace; CRCs zeroed — the decode
    * verifies meaning, not checksums), IDAT length 0x5B = zlib hdr (2) +
    * stored-block hdr (5: final, LEN=80 LE, NLEN) + 80 raw + adler (4).
    */
  private val PngHeaderHex: String =
    "89504E470D0A1A0A" + "0000000D49484452" + "00000009" + "00000008" +
      "0800000000" + "00000000" + "0000005B49444154" + "7801" +
      "01" + "5000" + "AFFF"

  /** Zeroed adler placeholder + IDAT CRC, then IEND. */
  private val PngTrailerHex: String =
    "00000000" + "00000000" + "00000000" + "49454E44" + "00000000"

  /** The 8 scanlines TOP-DOWN (PNG row order): filter byte 0, then the
    * luma walk from 128 stepping −10 on a 1-bit, +10 on a 0-bit — one
    * byte per pixel (grayscale), so cell (r,c) > cell (r,c+1) iff bit
    * r·8+c is set, same rule as the BMP rendering one byte-width over.
    */
  private val pngPixelsHex: String = {
    val step = "IF(bits[s * 8 + c - 1] = 1L, -10L, 10L)"
    "concat_ws('', transform(sequence(0, 7), s -> " +
      "aggregate(sequence(1, 8), " +
      "named_struct('v', 128L, 'hx', '0080'), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, lpad(hex(acc.v + $step), 2, '0'))), " +
      "acc -> acc.hx)))"
  }

  private[queries] val pngContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$PngHeaderHex', $pngPixelsHex, '$PngTrailerHex')))"

  /** d84's verified pair list without the presentation sort — StageCache'd
    * (d78Pairs' policy) so c10's dedup-volume card reuses the one
    * construct+decode+band pass instead of re-running it.
    */
  private[queries] def d84Pairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d84_pairs") {
      graft.functions.GraftFunctions.register(spark)
      val hashed = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), expr(pngBitsExpr).as("bits"))
        .repartition(col("doc_id")) // construction barrier (d78's lesson)
        .select(col("doc_id"), expr(pngContentExpr).as("content"))
        .select(col("doc_id"), expr(s"${graft.functions.GraftFunctions
          .PngDhashName}(content)").as("dhash"))
        .repartition(col("doc_id")) // decode-once barrier (d78's lesson)
      val bands = hashed.select(col("doc_id"), col("dhash"),
        posexplode(expr(
          "transform(sequence(0, 3), t -> shiftright(dhash, t * 16) & 65535L)"))
          .as(Seq("band", "key")))
      bands.as("x").hint("merge")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          // null-tolerant on purpose — see d78PairsRaw
          expr("cast(bit_count(coalesce(x.dhash, 0L) ^ coalesce(y.dhash, 0L))" +
            " as bigint)").as("hamming"))
        .filter(col("hamming") <= 3L)
        .distinct()
    }

  def d84PngDedup(spark: SparkSession, sfDir: String): DataFrame =
    d84Pairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** d85: VIDEO near-dup dedup — the LAST modality column on the dedup
    * ladder (text ✓, embedding ✓, chunk ✓, image ✓, audio ✓): pairs of
    * uncompressed YUV4MPEG2 clips whose frame-sequence envelope hash
    * ([[graft.functions.Y4mEnvelopeHash]] — a real FRAME-level decode:
    * per-frame luma-plane sums over raw planes, 65-window envelope,
    * exact cross-multiplied comparisons) differ in ≤ 3 of 64 bits, by
    * the same 4×16-bit-band pigeonhole-exact Hamming join as d78.
    *
    * Construction mirrors d82 one modality over: each doc renders its
    * 64-bit pattern as a 65-frame 4×4 mono Y4M clip (constant-luma
    * frames walking 128 ± 1 per bit, so frame means reproduce the
    * comparisons exactly); families of 7 consecutive doc_ids share a
    * base pattern with 0–3 per-doc flips (distinct mixer constants from
    * d78/d82/d84 so every modality family clusters differently); docs
    * ≡ 0 (mod 17) carry junk the frame walk must refuse. The oracle
    * re-derives the bits arithmetically — it never sees bytes.
    *
    * Scale shape: d78's verbatim — construction barriers, scan-side
    * decode, (band, key, hash) shuffle rows only, null-tolerant hamming
    * predicate so no inferred filter re-derives the decode at the scan.
    */
  private val y4mBitsExpr: String =
    "transform(sequence(0L, 63L), k -> " +
      "((((((doc_id div 7) * 999979L + k * 9001L + 11213L) % 1000000007L)" +
      " * (((doc_id div 7) * 999979L + k * 9001L + 11213L) % 1000000007L)" +
      " % 2147483647L)" +
      " * ((((doc_id div 7) * 999979L + k * 9001L + 11213L) % 1000000007L)" +
      " * (((doc_id div 7) * 999979L + k * 9001L + 11213L) % 1000000007L)" +
      " % 2147483647L) % 2147483647L div 1024L % 2L" +
      " + IF(k >= doc_id % 53 AND k < doc_id % 53 + doc_id % 4, 1L, 0L))" +
      " % 2L))"

  /** `YUV4MPEG2 W4 H4 F25:1 Ip A1:1 Cmono\n` — a 4×4 mono stream, 16
    * luma bytes per frame.
    */
  private val Y4mHeaderHex: String =
    "595556344D50454732205734204834204632353A312049702041313A3120" +
      "436D6F6E6F0A"

  /** 65 `FRAME\n` + 16 constant luma bytes each: the walk starts at 128
    * and steps −1 on a 1-bit, +1 on a 0-bit (range 64–192, safely inside
    * a byte), so frame k's mean is strictly brighter than frame k+1's
    * exactly when bit k is set.
    */
  private val y4mFramesHex: String = {
    val step = "IF(bits[c - 1] = 1L, -1L, 1L)"
    "aggregate(sequence(1, 64), " +
      "named_struct('v', 128L, 'hx', concat('4652414D450A', repeat('80', 16))), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, '4652414D450A', " +
      s"repeat(lpad(hex(acc.v + $step), 2, '0'), 16))), " +
      "acc -> acc.hx)"
  }

  private[queries] val y4mContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$Y4mHeaderHex', $y4mFramesHex)))"

  /** d85's verified pair list without the presentation sort — StageCache'd
    * (d78Pairs' policy) so c10's dedup-volume card reuses the one
    * construct+decode+band pass instead of re-running it.
    */
  /** d85's construct→decode stage (d78Hashed's shape at the video
    * modality) — split out in r19 so d94's funnel can census the decode
    * without re-opening the banding join. */
  private[queries] def d85Hashed(spark: SparkSession, sfDir: String)
      : DataFrame =
    // r21: StageCache + lazy checkpoint (d82Hashed's note)
    graft.operators.StageCache.persisted(s"$sfDir#d85_hashed") {
      d85HashedRaw(spark, sfDir).localCheckpoint(false)
    }

  private def d85HashedRaw(spark: SparkSession, sfDir: String)
      : DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(y4mBitsExpr).as("bits"))
      .repartition(col("doc_id")) // construction barrier (d78's lesson)
      .select(col("doc_id"), expr(y4mContentExpr).as("content"))
      .select(col("doc_id"), expr(s"${graft.functions.GraftFunctions
        .Y4mEnvelopeHashName}(content)").as("vhash"))
      .repartition(col("doc_id")) // decode-once barrier (d78's lesson)
  }

  private[queries] def d85Pairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d85_pairs") {
      val hashed = d85Hashed(spark, sfDir)
      val bands = hashed.select(col("doc_id"), col("vhash"),
        posexplode(expr(
          "transform(sequence(0, 3), t -> shiftright(vhash, t * 16) & 65535L)"))
          .as(Seq("band", "key")))
      bands.as("x").hint("merge")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          // null-tolerant on purpose — see d78PairsRaw
          expr("cast(bit_count(coalesce(x.vhash, 0L) ^ coalesce(y.vhash, 0L))" +
            " as bigint)").as("hamming"))
        .filter(col("hamming") <= 3L)
        .distinct()
    }

  def d85VideoDedup(spark: SparkSession, sfDir: String): DataFrame =
    d85Pairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** d86: CROSS-FORMAT image dedup — the flagship claim of the shared
    * [[graft.functions.Dhash64]] cell rule, under the oracle hash gate:
    * one corpus where the SAME pixel pattern ships as a 24-bit BMP for
    * even doc_ids and as an 8-bit grayscale PNG for odd doc_ids (the
    * real crawl shape: one image re-encoded by different hosts), deduped
    * through format-agnostic hashing — `coalesce` over the two native
    * decodes, each of which refuses the other container at its signature
    * check, so exactly one real decode runs per asset. Families of 4
    * consecutive doc_ids share a base pattern with 0–3 per-doc flips,
    * so qualifying pairs CROSS the format boundary (2 even + 2 odd ids
    * per family) — a BMP deduping against a PNG is the default case
    * here, not the exception. Docs ≡ 0 (mod 17) carry junk both decodes
    * must refuse. The oracle re-derives the bits arithmetically and is
    * container-blind — which is precisely the test: if the two decodes'
    * hashes disagreed on the same pixels, every cross-format pair would
    * miss and the hash gate would fail.
    *
    * Scale shape: d78's verbatim — construction barriers, scan-side
    * decode (one real + one signature refusal per asset), (band, key,
    * hash) shuffle rows only, null-tolerant hamming predicate so no
    * inferred filter re-derives the decodes at the scan.
    */
  private val xfmtBitsExpr: String =
    "transform(sequence(0L, 63L), k -> " +
      "((((((doc_id div 4) * 1000099L + k * 7591L + 24680L) % 1000000007L)" +
      " * (((doc_id div 4) * 1000099L + k * 7591L + 24680L) % 1000000007L)" +
      " % 2147483647L)" +
      " * ((((doc_id div 4) * 1000099L + k * 7591L + 24680L) % 1000000007L)" +
      " * (((doc_id div 4) * 1000099L + k * 7591L + 24680L) % 1000000007L)" +
      " % 2147483647L) % 2147483647L div 1024L % 2L" +
      " + IF(k >= doc_id % 51 AND k < doc_id % 51 + doc_id % 4, 1L, 0L))" +
      " % 2L))"

  private[queries] val xfmtContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"IF(doc_id % 2 = 0, " +
      s"unhex(concat('$BmpHeaderHex', $bmpPixelsHex)), " +
      s"unhex(concat('$PngHeaderHex', $pngPixelsHex, '$PngTrailerHex'))))"

  /** d86's verified pair list without the presentation sort — StageCache'd
    * (d78Pairs' policy) so c10's dedup-volume card reuses the one
    * construct+decode+band pass instead of re-running it.
    */
  private[queries] def d86Pairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d86_pairs") {
      graft.functions.GraftFunctions.register(spark)
      val fns = graft.functions.GraftFunctions
      val hashed = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), expr(xfmtBitsExpr).as("bits"))
        .repartition(col("doc_id")) // construction barrier (d78's lesson)
        .select(col("doc_id"), expr(xfmtContentExpr).as("content"))
        // format-agnostic hash: each decode refuses the other container at
        // its signature bytes, so this is one real decode per asset
        .select(col("doc_id"), expr(s"coalesce(${fns.BmpDhashName}(content), " +
          s"${fns.PngDhashName}(content))").as("dhash"))
        .repartition(col("doc_id")) // decode-once barrier (d78's lesson)
      val bands = hashed.select(col("doc_id"), col("dhash"),
        posexplode(expr(
          "transform(sequence(0, 3), t -> shiftright(dhash, t * 16) & 65535L)"))
          .as(Seq("band", "key")))
      bands.as("x").hint("merge")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          // null-tolerant on purpose — see d78PairsRaw
          expr("cast(bit_count(coalesce(x.dhash, 0L) ^ coalesce(y.dhash, 0L))" +
            " as bigint)").as("hamming"))
        .filter(col("hamming") <= 3L)
        .distinct()
    }

  def d86CrossFormatDedup(spark: SparkSession, sfDir: String): DataFrame =
    d86Pairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** d87: GIF near-dup dedup — the dedup ladder's last lib-free raster
    * leg: each doc renders its 64-bit pattern as a REAL 32-gray-palette
    * GIF whose LZW code stream is the spec's uncompressed idiom (a CLEAR
    * code before every pixel literal keeps the dictionary empty and
    * every code at 6 bits — deterministic bytes, so the constructed-
    * bytes oracle discipline that anchored the PNG's stored-deflate
    * blocks holds for GIF's LZW too), and the native
    * [[graft.functions.GifDhash]] walks blocks, splices sub-blocks,
    * LZW-decodes, maps palette luma, and dHashes through the SHARED
    * [[graft.functions.Dhash64]] rule — so GIFs dedup against BMP/PNG
    * renderings of the same pixels (GifDhashSpec pins the cross-format
    * equality; the real-LZW round-trip with dictionary growth and width
    * bumps is spec-pinned there too). Families of 8 consecutive doc_ids
    * share a base pattern with 0–3 per-doc flips (distinct mixer
    * constants from every other modality family); docs ≡ 0 mod 17 carry
    * junk the decode must refuse. The oracle re-derives the bits
    * arithmetically — it never sees bytes.
    *
    * Scale shape: d78's verbatim — construction barriers, scan-side
    * decode, (band, key, hash) shuffle rows only, null-tolerant hamming
    * predicate so no inferred filter re-derives the decode at the scan.
    */
  private val gifBitsExpr: String =
    "transform(sequence(0L, 63L), k -> " +
      "((((((doc_id div 8) * 1000121L + k * 7723L + 97531L) % 1000000007L)" +
      " * (((doc_id div 8) * 1000121L + k * 7723L + 97531L) % 1000000007L)" +
      " % 2147483647L)" +
      " * ((((doc_id div 8) * 1000121L + k * 7723L + 97531L) % 1000000007L)" +
      " * (((doc_id div 8) * 1000121L + k * 7723L + 97531L) % 1000000007L)" +
      " % 2147483647L) % 2147483647L div 1024L % 2L" +
      " + IF(k >= doc_id % 47 AND k < doc_id % 47 + doc_id % 4, 1L, 0L))" +
      " % 2L))"

  /** GIF preamble through the one data sub-block's size byte: signature,
    * 9×8 logical screen with a 32-entry global gray table (entry i =
    * 8i, so palette luma is monotone in the index), image descriptor,
    * LZW min code size 5, sub-block length 0x6D (145 six-bit codes =
    * 109 bytes).
    */
  private val GifHeaderHex: String = {
    val gct = (0 until 32).map(i => f"${i * 8}%02X" * 3).mkString
    "474946383961" + "09000800F40000" + gct +
      "2C000000000900080000" + "05" + "6D"
  }

  /** End of the code stream: the 0 block terminator + the 3B trailer. */
  private val GifTrailerHex: String = "003B"

  /** The packed LZW code stream: row s walks a palette index from 16,
    * −1 on a 1-bit, +1 on a 0-bit (range 8–24 inside the 32-entry
    * table), every pixel preceded by CLEAR (32) and the stream closed
    * by EOI (33), all 6-bit codes packed LSB-first — the GIF spec's
    * uncompressed idiom, so cell (r,c) > (r,c+1) iff bit r·8+c is set.
    */
  private val gifCodesHex: String = {
    val step = "IF(bits[s * 8 + c - 1] = 1L, -1L, 1L)"
    val pixelCodes =
      "flatten(transform(sequence(0, 7), s -> " +
        "aggregate(sequence(1, 8), " +
        "named_struct('v', 16L, 'arr', array(16L)), " +
        s"(acc, c) -> named_struct('v', acc.v + $step, " +
        s"'arr', concat(acc.arr, array(acc.v + $step))), " +
        "acc -> acc.arr)))"
    val codes =
      s"concat(flatten(transform($pixelCodes, p -> array(32L, p))), array(33L))"
    s"aggregate($codes, " +
      "named_struct('acc', 0L, 'nb', 0L, 'hx', ''), " +
      "(st, code) -> IF(st.nb + 6 >= 8, " +
      "named_struct('acc', shiftright(st.acc | shiftleft(code, st.nb), 8), " +
      "'nb', st.nb - 2L, " +
      "'hx', concat(st.hx, " +
      "lpad(hex((st.acc | shiftleft(code, st.nb)) % 256L), 2, '0'))), " +
      "named_struct('acc', st.acc | shiftleft(code, st.nb), " +
      "'nb', st.nb + 6L, 'hx', st.hx)), " +
      "st -> IF(st.nb > 0L, concat(st.hx, lpad(hex(st.acc % 256L), 2, '0')), " +
      "st.hx))"
  }

  private[queries] val gifContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$GifHeaderHex', $gifCodesHex, '$GifTrailerHex')))"

  /** d87's verified pair list without the presentation sort — StageCache'd
    * (d78Pairs' policy) so c10's dedup-volume card reuses the one
    * construct+decode+band pass instead of re-running it.
    */
  private[queries] def d87Pairs(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d87_pairs") {
      graft.functions.GraftFunctions.register(spark)
      val hashed = Tables(spark, sfDir, "documents")
        .select(col("doc_id"), expr(gifBitsExpr).as("bits"))
        .repartition(col("doc_id")) // construction barrier (d78's lesson)
        .select(col("doc_id"), expr(gifContentExpr).as("content"))
        .select(col("doc_id"), expr(s"${graft.functions.GraftFunctions
          .GifDhashName}(content)").as("dhash"))
        .repartition(col("doc_id")) // decode-once barrier (d78's lesson)
      val bands = hashed.select(col("doc_id"), col("dhash"),
        posexplode(expr(
          "transform(sequence(0, 3), t -> shiftright(dhash, t * 16) & 65535L)"))
          .as(Seq("band", "key")))
      bands.as("x").hint("merge")
        .join(bands.as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
          // null-tolerant on purpose — see d78PairsRaw
          expr("cast(bit_count(coalesce(x.dhash, 0L) ^ coalesce(y.dhash, 0L))" +
            " as bigint)").as("hamming"))
        .filter(col("hamming") <= 3L)
        .distinct()
    }

  def d87GifDedup(spark: SparkSession, sfDir: String): DataFrame =
    d87Pairs(spark, sfDir).orderBy("doc_a", "doc_b")

  /** d88: media EMBED dedup — bytes → REAL features → the d9/d10
    * cosine-dedup contract, end to end under the oracle hash gate: each
    * doc renders as a 9×8 BMP, the native [[graft.functions
    * .GridLumaCells]] decode emits the 72-cell grid-luma vector (the
    * multimodal mandate's feature-extract step, REAL since r17 — no
    * stub anywhere in this plan), features are mean-centered by the
    * integer-exact ×72 trick (72·v − Σv is a positive scalar multiple
    * of the centered vector, so every cosine is IDENTICAL to
    * centered-luma cosine while all dot/norm accumulations stay exact
    * integers inside 2⁵³ — both engines produce bit-equal doubles),
    * and the keep-earliest rule drops any doc cosine-similar (≥ 0.95)
    * to a smaller doc_id.
    *
    * Construction: families of 4 consecutive doc_ids share a BASE
    * pixel walk (d78's double-middle-square mix, d88's own constants,
    * no bit flips); each member shifts ONE row's luma by
    * (doc_id mod 3) − 1 — the brightness-touched re-encode of the same
    * image real crawls carry, so family cosines sit ≈ 1 and the drop
    * structure is real at every scale factor. Docs ≡ 0 (mod 17) carry
    * junk the decode must refuse; with no features they are never
    * provably dups and pass — the monotone-gate contract (d83's),
    * which also keeps NULL handling out of the join (no isnotnull
    * filter for constraint inference to push below the barriers —
    * d78Hashed's lesson).
    *
    * ORACLE-ANCHOR pair source — never run the quadratic at production
    * sf: the exact BLOCK-PAIR (triangle) equi-join is d9's declared
    * anchor shape verbatim (block i = doc_id mod 8; O(n·9) shuffle
    * rows, 36 evenly-sized tasks, no full-corpus broadcast), because
    * cosine at a general threshold admits no pigeonhole-exact banding
    * and recall is the contract here. The production path is DECLARED
    * since r18 — [[d89MediaEmbedDedupLsh]], the SAME feature column
    * through d10's LSH machinery in the near-dup regime it is built
    * for, pinned with measured-zero-missed-drops in PipelineOpsSpec
    * (the τ ≥ 0.8 pruning argument, fed by real pixel features instead
    * of synthetic vectors). Scale shape of
    * everything before the pair source is d78's verbatim:
    * construction barriers, one scan-side decode, feature rows of
    * (doc_id, 72×8 B) are the only thing that shuffles.
    */
  private val d88BitsExpr: String =
    "transform(sequence(0L, 63L), k -> " +
      "((((doc_id div 4) * 1000151L + k * 7841L + 86420L) % 1000000007L)" +
      " * (((doc_id div 4) * 1000151L + k * 7841L + 86420L) % 1000000007L)" +
      " % 2147483647L)" +
      " * ((((doc_id div 4) * 1000151L + k * 7841L + 86420L) % 1000000007L)" +
      " * (((doc_id div 4) * 1000151L + k * 7841L + 86420L) % 1000000007L)" +
      " % 2147483647L) % 2147483647L div 1024L % 2L)"

  /** The 8 storage rows (bottom-up) of the d88 rendering: the d78 walk
    * with a per-doc START offset on logical row `doc_id mod 8` — the
    * whole row shifts by (doc_id mod 3) − 1, everything else is the
    * family base. Values stay in [47, 209], inside a byte.
    */
  private val d88PixelsHex: String = {
    val step = "IF(bits[(7 - s) * 8 + c - 1] = 1L, -10L, 10L)"
    val start = "(128L + IF(7 - s = doc_id % 8, doc_id % 3 - 1L, 0L))"
    "concat_ws('', transform(sequence(0, 7), s -> " +
      "aggregate(sequence(1, 8), " +
      s"named_struct('v', $start, " +
      s"'hx', repeat(lpad(hex($start), 2, '0'), 3)), " +
      s"(acc, c) -> named_struct(" +
      s"'v', acc.v + $step, " +
      s"'hx', concat(acc.hx, repeat(lpad(hex(acc.v + $step), 2, '0'), 3))), " +
      "acc -> concat(acc.hx, '00'))))"
  }

  private[queries] val d88ContentExpr: String =
    s"IF(doc_id % 17 = 0, unhex('00112233'), " +
      s"unhex(concat('$BmpHeaderHex', $d88PixelsHex)))"

  /** d88's feature frame: (doc_id, centered 72-dim grid-luma vector as
    * array<double>; NULL for junk) — split out so d89 and the spec's LSH
    * scale twin consume the identical features. StageCache'd (d78Pairs'
    * policy) since r18: the declared anchor (d88), its production twin
    * (d89) and the anchor's own 3 self-references all read the ONE
    * construct+decode+center pass per corpus instead of re-deriving it
    * per plan reference.
    */
  private[queries] def d88Features(spark: SparkSession, sfDir: String)
      : DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d88_features")(
      d88FeaturesRaw(spark, sfDir))

  private def d88FeaturesRaw(spark: SparkSession, sfDir: String)
      : DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), expr(d88BitsExpr).as("bits"))
      .repartition(col("doc_id")) // construction barrier (d78's lesson)
      .select(col("doc_id"), expr(d88ContentExpr).as("content"))
      .select(col("doc_id"), expr(s"${graft.functions.GraftFunctions
        .GridLumaCellsName}(content)").as("cells"))
      .repartition(col("doc_id")) // decode-once barrier (d78's lesson)
      // all values are exact small integers carried as doubles, so the
      // total and the centered products are EXACT (≪ 2⁵³) — the oracle
      // repeats the same arithmetic on integers and gets the same doubles
      .select(col("doc_id"), col("cells"),
        expr("aggregate(cells, 0D, (a, x) -> a + x)").as("tot"))
      .repartition(col("doc_id")) // total-once barrier: the transform
      // below references tot per element — inlined, the aggregate would
      // re-fold the 72 cells once per output lane (the d78 HOF pathology)
      .select(col("doc_id"),
        expr("transform(cells, x -> x * 72D - tot)").as("v"))
      .repartition(col("doc_id")) // feature-once barrier: both triangle
      // sides below reference v
  }

  /** d89: d88's PRODUCTION path, declared — the SAME decoded grid-luma
    * feature column ([[d88Features]]) through [[dedupEmbeddingLsh]]'s
    * banded hyperplane machinery (8 tables × 12 bits, τ = 0.95), exactly
    * the d9→d10 precedent one modality over: the quadratic triangle
    * anchor (d88) pins the contract at oracle scale, this query is the
    * plan that runs at 100 TB. In the near-dup regime the features live
    * in (family cosines ≈ 1 by the one-row-shift construction), banding
    * PRUNES — PipelineOpsSpec pins, at both sf0.001 and the spec corpus,
    * (a) recall 1.0 vs the exact anchor (zero missed drops, identical
    * keep set) and (b) candidate volume under ¼ of all-pairs — which is
    * what justifies sharing d88's oracle SQL verbatim: measured-exact
    * equivalence on this corpus, the d10 discipline (d10 likewise
    * hash-matches d9's NOT-EXISTS oracle).
    *
    * Scale shape: construction/decode/feature barriers inherited from
    * [[d88Features]]; after them only (doc_id, band-key) and (doc_id,
    * 72×8 B) rows shuffle; candidates are bucket-bounded, the exact
    * cosine verify touches candidates only, and the keep rule is the
    * same anti-join tail. Linear in documents in the banded regime.
    */
  def d89MediaEmbedDedupLsh(spark: SparkSession, sfDir: String): DataFrame =
    dedupEmbeddingLsh(
      d88Features(spark, sfDir)
        .select(col("doc_id").as("vec_id"), lit("img").as("label"), col("v")),
      spark, tables = 8, bits = 12, threshold = 0.95)
      .select(col("vec_id").as("doc_id"))
      .orderBy("doc_id")

  def d88MediaEmbedDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val B = 8
    val feats = d88Features(spark, sfDir)
    val blocked = feats
      .withColumn("blk", pmod(col("doc_id"), lit(B)).cast("int"))
    val left = blocked
      .select(col("doc_id").as("ida"), col("v").as("va"), col("blk").as("bi"))
      .withColumn("bj", explode(expr(s"sequence(bi, ${B - 1})")))
    val right = blocked
      .select(col("doc_id").as("idb"), col("v").as("vb"), col("blk").as("bj"))
      .withColumn("bi", explode(expr("sequence(0, bj)")))
    // d9's triangle meeting rule verbatim; junk docs carry NULL v, the
    // cosine is NULL, the qualifying filter drops the pair — no
    // isnotnull anywhere for inference to push below the barriers
    val dupIds = left
      .join(right, Seq("bi", "bj"))
      .filter(col("ida") =!= col("idb"))
      .filter(GroupC.cosine("va", "vb") >= 0.95)
      .select(greatest(col("ida"), col("idb")).as("dup")).distinct()
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"))
      .join(dupIds, col("doc_id") === col("dup"), "left_anti")
      .orderBy("doc_id")
  }

  /** d90: the MEDIA pipeline composed END TO END — d22's audit twin at
    * the image modality (the r16/r17 review's carried ask): one lazily
    * built plan that chains decode ([[d78Hashed]]) → verified near-dup
    * pairs ([[d78Pairs]], the StageCache hub) → connected-component
    * clusters ([[d80ImageClusters]], cached) → resolution keep-best
    * ([[d81ImageKeepBest]]) and reports a d56-style FUNNEL row per
    * stage (docs in / docs out / dropped) with c10's volume columns
    * (pair count, cluster count, largest cluster) attached on the rows
    * where they are defined — NULL elsewhere, the d68 show-structure
    * discipline. Stage boundaries are exactly the declared operators'
    * frames, so the audit can never disagree with the operators it
    * summarizes; the keep-best survivor count comes from d81's actual
    * `keep` column, not arithmetic.
    *
    * Scale shape: five 1-row partial aggregates over frames the
    * pipeline already defines (two of them StageCache'd hubs), cross-
    * joined broadcast into ONE metrics row, then the 4 stage rows
    * inline-exploded from that single row — the metrics subplans
    * evaluate once regardless of how many stages report them, and the
    * report is 4 rows at any corpus size.
    */
  def d90MediaPipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val nDec = d78Hashed(spark, sfDir)
      .agg(count(col("dhash")).as("n_dec"))
    val nPairs = d78Pairs(spark, sfDir).agg(count(lit(1)).as("n_pairs"))
    val clAgg = d80ImageClusters(spark, sfDir).agg(
      countDistinct(col("cluster_id")).as("n_clusters"),
      max(col("cluster_size")).as("max_cluster"),
      count(lit(1)).as("n_clustered"))
    val nKeep = d81ImageKeepBest(spark, sfDir)
      .agg(count(when(col("keep"), 1L)).as("n_keep"))
    val m = nDocs.crossJoin(broadcast(nDec)).crossJoin(broadcast(nPairs))
      .crossJoin(broadcast(clAgg)).crossJoin(broadcast(nKeep))
    val nl = "cast(null as bigint)"
    m.select(explode(expr(
        s"""array(
           |named_struct('stage', '1_decode', 'docs_in', n_docs,
           |  'docs_out', n_dec, 'n_pairs', $nl, 'n_clusters', $nl,
           |  'max_cluster', $nl),
           |named_struct('stage', '2_pairs', 'docs_in', n_dec,
           |  'docs_out', n_dec, 'n_pairs', n_pairs, 'n_clusters', $nl,
           |  'max_cluster', $nl),
           |named_struct('stage', '3_clusters', 'docs_in', n_dec,
           |  'docs_out', n_dec, 'n_pairs', $nl, 'n_clusters', n_clusters,
           |  'max_cluster', max_cluster),
           |named_struct('stage', '4_keep_best', 'docs_in', n_dec,
           |  'docs_out', n_dec - n_clustered + n_keep, 'n_pairs', $nl,
           |  'n_clusters', $nl, 'max_cluster', $nl))""".stripMargin))
        .as("r"))
      .select(col("r.*"))
      .withColumn("dropped", col("docs_in") - col("docs_out"))
      .orderBy("stage")
  }

  /** d91: per-DOMAIN quota cap — the C4/RefinedWeb per-host balancing
    * discipline as a declared query: over c13's registered-domain key
    * (the same construction + normalization kernel, evaluated in ONE
    * scan-side projection here — no join back to c13), keep at most 3
    * docs per domain, best-first by (n_chars DESC, doc_id ASC) — a
    * deterministic quality proxy with a total tiebreak, so both engines
    * rank identically.
    *
    * Scale shape: `row_number ≤ k` over a domain-partitioned window is
    * the shape Spark rewrites to WindowGroupLimit (plan-pinned) — each
    * map task keeps only its local top-3 per domain BEFORE the exchange,
    * so the shuffle carries ≤ 3·domains rows per task, not the corpus;
    * at 100 TB the per-domain cap is exactly the operator that must not
    * sort the world, and this plan doesn't.
    */
  def d91DomainCap(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy(col("domain"))
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), col("n_chars"),
        GroupC.urlDomain(GroupC.c13Url).as("domain"))
      // docs without a registered domain (urlDomain NULL: refused or
      // sub-2-label host) have nothing to balance ON — they are gated
      // out, not pooled into one NULL cap group (never fires on the
      // constructed corpus; library semantics for real crawls)
      .filter(col("domain").isNotNull)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("domain"), col("doc_id"), col("n_chars"), col("rank"))
      .orderBy("domain", "rank")
  }

  /** d92: exact dedup by CANONICAL URL — the op c13's kernel exists to
    * feed, completing the URL axis (canonicalize → dedup → balance):
    * over a collision-bearing corpus where doc pairs (2k, 2k+1) render
    * one page identity in two raw surface forms (case, `www.`, default
    * port, `/index.html`, tracking param, fragment — every delta
    * normalization-invariant), group by canonical URL and keep the
    * smallest doc_id, reporting the canonical URL, the keeper, and the
    * raw-variant count.
    *
    * Scale shape: one scan-side construct+normalize projection, then
    * ONE exchange grouped on the canonical URL itself with
    * fixed-buffer aggregates (min/count) — HashAggregate with
    * map-side partials, so each task ships one row per distinct
    * canonical URL it saw and nothing sorts. (The c2-style
    * hashed-key variant — group by `xxhash64(norm_url)` and carry the
    * string as `min(norm_url)` — was tried and REJECTED: a string min
    * is a var-length aggregation buffer, which kicks the plan from
    * HashAggregate to SortAggregate and buys the narrower exchange row
    * at the price of two full sorts. The output needs the string, so
    * the string must cross the exchange either way; keying on it is
    * the cheaper plan.)
    */
  def d92UrlDedup(spark: SparkSession, sfDir: String): DataFrame =
    Tables(spark, sfDir, "documents")
      .select(col("doc_id"), GroupC.d92Url.as("url"))
      .select(col("doc_id"), GroupC.urlNormalize(col("url")).as("norm_url"))
      .groupBy(col("norm_url"))
      .agg(min(col("doc_id")).as("keep_id"),
        count(lit(1)).as("n_raw"))
      .orderBy("norm_url")

  /** d93: the URL-axis e2e compose (r19) — canonicalize → dedup by
    * canonical URL → per-domain cap as ONE lazily built plan with
    * d56-style funnel rows, the d90 pattern at the URL modality: over
    * d92's collision-bearing corpus (so the dedup stage actually halves
    * the frame), stage 1 normalizes (c13's kernel — refusals would drop
    * here; the constructed corpus has none, and the funnel row SHOWS
    * that), stage 2 keeps the smallest doc_id per canonical URL (d92's
    * keeper rule, as a whole-row keep so the survivor's n_chars feeds
    * the cap), stage 3 keeps the top-3 per registered domain by
    * (n_chars DESC, doc_id) among survivors (d91's rule over d92's
    * output — the composed semantics, not three separate queries).
    *
    * Scale shape: ONE scan-side construct+normalize projection feeds
    * everything; both keep stages are `row_number ≤ k` windows — the
    * shape Spark plans as WindowGroupLimit, so each exchange carries at
    * most k rows per key per task; the funnel metrics are four 1-row
    * partial aggregates cross-joined broadcast into one metrics row and
    * inline-exploded into the 3 stage rows (d90's shape — the stage
    * subplans evaluate once, AQE reuses the shared exchanges, and the
    * report is 3 rows at any corpus size).
    *
    * The normalized frame sits behind the d100-rule lazy-checkpoint
    * barrier (r21, the r20 verdict's fix): the funnel's four metric
    * branches plus both keep-window subtrees otherwise EACH re-derive
    * the construct+normalize regex chain from the scan — the
    * both-sides-recompute shape d100 already barriers (six scans in the
    * un-barriered physical plan, plans/r21/d93_url_pipeline_e2e_before
    * .txt). In production the barrier is the canonical-URL table a
    * pipeline lands anyway. (r22: the r21 StageCache entry on top of
    * the barrier was single-consumer and is dropped — verdict task 1.)
    */
  def d93UrlPipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    // r22 (r21 verdict task 1): StageCache dropped — d93 was the only
    // consumer of the r21 `d93_normed` entry, so the cache only served
    // d93's own frame back across bench passes. The lazy-checkpoint
    // barrier (the real fix: 6 scans → 1 per execution) stays.
    val normed = docs
      .select(col("doc_id"), col("n_chars"), GroupC.d92Url.as("url"))
      .select(col("doc_id"), col("n_chars"),
        GroupC.urlNormalize(col("url")).as("norm_url"),
        GroupC.urlDomain(col("url")).as("domain"))
      .localCheckpoint(false)
    val keepers = normed.filter(col("norm_url").isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("norm_url")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")
    val capped = keepers.filter(col("domain").isNotNull)
      .withColumn("__rank", row_number().over(
        Window.partitionBy(col("domain"))
          .orderBy(col("n_chars").desc, col("doc_id"))))
      .filter(col("__rank") <= 3)
    val m = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(
        normed.agg(count(col("norm_url")).as("n_norm"))))
      .crossJoin(broadcast(keepers.agg(count(lit(1)).as("n_kept"))))
      .crossJoin(broadcast(capped.agg(count(lit(1)).as("n_capped"))))
    m.select(explode(expr(
        """array(
          |named_struct('stage', '1_normalize',
          |  'docs_in', n_docs, 'docs_out', n_norm),
          |named_struct('stage', '2_url_dedup',
          |  'docs_in', n_norm, 'docs_out', n_kept),
          |named_struct('stage', '3_domain_cap',
          |  'docs_in', n_kept, 'docs_out', n_capped))""".stripMargin))
        .as("r"))
      .select(col("r.*"))
      .withColumn("dropped", col("docs_in") - col("docs_out"))
      .orderBy("stage")
  }

  /** d94: the audio/video pipeline e2e compose (r19) — d90's funnel at
    * the two media modalities that had pairs but no composed lifecycle:
    * decode (WAV sample walk / Y4M frame walk, refusing junk) → banded
    * Hamming pairs (d82/d85's cached hubs) → connected-component
    * clusters → keep-best, per modality, as ONE lazily built plan whose
    * report is 8 rows (2 modalities × 4 stages) at any corpus size.
    * The keep-best election at these modalities is the min-id
    * representative (audio carries no resolution analogue to d81's
    * pixel-count criterion), so the survivor count per cluster is
    * exactly 1 and stage 4's docs_out = n_dec − n_clustered +
    * n_clusters — the oracle re-derives every count arithmetically
    * from doc_id (the constructed-bytes discipline; it never sees
    * bytes).
    *
    * Scale shape: d90's verbatim — each modality's metrics are 1-row
    * partial aggregates over the StageCache'd pair hub (the
    * construct+decode+band pass pays once per corpus across queries)
    * cross-joined broadcast into one metrics row and inline-exploded
    * into the 4 stage rows; the component labeling shuffles only
    * (id, label) pairs per delta-bounded round, StageCache'd per
    * modality (iterative propagation is the most re-derivation-hostile
    * shape there is — d80's argument). The decode census re-runs the
    * scan-side decode once (d90's nDec precedent — the hub caches
    * PAIRS, and a census column on the hub would widen every consumer
    * for one count).
    */
  def d94AvPipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val nDocs = Tables(spark, sfDir, "documents")
      .agg(count(lit(1)).as("n_docs"))
    def modality(tag: String, hashed: DataFrame, hashCol: String,
                 pairs: DataFrame): DataFrame = {
      val nDec = hashed.agg(count(col(hashCol)).as("n_dec"))
      val nPairs = pairs.agg(count(lit(1)).as("n_pairs"))
      val clAgg = graft.operators.StageCache.persisted(
          s"$sfDir#d94_${tag}_clusters")(
        graft.operators.ConnectedComponents
          .label(pairs.select("doc_a", "doc_b"), src = "doc_a", dst = "doc_b"))
        .groupBy("component").agg(count(lit(1)).as("sz"))
        // coalesce(sum, 0) not bare sum (the r16 c10 finding at this
        // shape): over a PAIRLESS corpus the cluster frame is empty and
        // sum returns NULL while the oracle's COUNT(*) returns 0 —
        // stage 4's docs_out would go NULL instead of n_dec and
        // hash-mismatch; max stays bare because the oracle's MAX over
        // empty is NULL too
        .agg(count(lit(1)).as("n_clusters"), max(col("sz")).as("max_cluster"),
          coalesce(sum(col("sz")), lit(0L)).as("n_clustered"))
      val m = nDocs.crossJoin(broadcast(nDec)).crossJoin(broadcast(nPairs))
        .crossJoin(broadcast(clAgg))
      val nl = "cast(null as bigint)"
      m.select(lit(tag).as("modality"), explode(expr(
          s"""array(
             |named_struct('stage', '1_decode', 'docs_in', n_docs,
             |  'docs_out', n_dec, 'n_pairs', $nl, 'n_clusters', $nl,
             |  'max_cluster', $nl),
             |named_struct('stage', '2_pairs', 'docs_in', n_dec,
             |  'docs_out', n_dec, 'n_pairs', n_pairs, 'n_clusters', $nl,
             |  'max_cluster', $nl),
             |named_struct('stage', '3_clusters', 'docs_in', n_dec,
             |  'docs_out', n_dec, 'n_pairs', $nl, 'n_clusters', n_clusters,
             |  'max_cluster', max_cluster),
             |named_struct('stage', '4_keep_best', 'docs_in', n_dec,
             |  'docs_out', n_dec - n_clustered + n_clusters, 'n_pairs', $nl,
             |  'n_clusters', $nl, 'max_cluster', $nl))""".stripMargin))
          .as("r"))
        .select(col("modality"), col("r.*"))
    }
    modality("audio_wav", d82Hashed(spark, sfDir), "ehash",
        d82Pairs(spark, sfDir))
      .unionByName(modality("video_y4m", d85Hashed(spark, sfDir), "vhash",
        d85Pairs(spark, sfDir)))
      .withColumn("dropped", col("docs_in") - col("docs_out"))
      .orderBy("modality", "stage")
  }

  /** d95: crawl-FRONTIER discovery (r19) — the operator c14's harvest
    * exists to feed, closing the crawl loop (harvest → frontier diff →
    * schedule): every outlink target across the corpus, canonicalized
    * through c13's kernel and deduped, ANTI-joined against the corpus's
    * OWN canonical page URLs (the c15 corpus adds a SELF-LINK anchor per
    * page — its canonical form equals the page's own canonical form, so
    * the anti join demonstrably drops already-crawled targets), then
    * censused per registered domain — (domain, new-URL count, first URL),
    * exactly the per-host work list a crawl scheduler consumes next to
    * d91's cap.
    *
    * Scale shape: the explode ships canonical STRINGS only (the page
    * bytes never leave their scan); distinct and the anti join shuffle
    * on the canonical-URL key — d92's exchange, the unavoidable one —
    * with map-side partial distinct; the per-domain census is one
    * partial agg. At 100 TB the corpus side is the standing canonical
    * table StreamUrlDedup maintains, streamed once per frontier pass
    * and never self-joined.
    */
  /** The frontier's per-URL frame — (norm_url, domain) of every
    * canonical outlink target NOT already a corpus page — d95's body
    * before its census, shared with d97's fetch-plan compose so the two
    * cannot drift. Under the drivers' [[graft.operators.StageCache]]
    * policy the frame persists once per corpus (the d22/d56 discipline):
    * the discovery pass and the schedule it feeds share ONE
    * materialization, exactly what a production crawl does with its
    * frontier table between passes. */
  /** The frontier DIFF body over any `html` link-source frame: extract
    * every href, canonicalize, dedup, anti-join the corpus's own
    * canonical URLs, attach the registered domain — ONE definition
    * shared by d95 (all pages) and d100 (gopher survivors only), so the
    * two frontier semantics cannot drift (r20 review; the fetchPlanOver
    * rationale at the discovery side). */
  private def frontierDiffOver(htmlFrame: DataFrame,
                               corpus: DataFrame): DataFrame =
    htmlFrame
      .select(explode(regexp_extract_all(col("html"),
        lit(GroupC.HrefP), lit(1))).as("url"))
      // r22: dedup the RAW hrefs BEFORE the canonicalization chain —
      // normalize is deterministic, so distinct∘normalize∘distinct =
      // distinct∘normalize, and the corpus's link graph repeats each
      // target many times (~14× at sf0.1): the ~25-regex chain (which
      // the pushed-down isNotNull additionally evaluates twice per row
      // — the d30-family inline trap, visible as a Filter below the
      // Project in plans/r22) ran 18 CPU-s per pass on repeats; one
      // map-side-partial distinct of raw strings is far cheaper.
      .distinct()
      .select(GroupC.urlNormalize(col("url")).as("norm_url"))
      .filter(col("norm_url").isNotNull)
      .distinct()
      .join(corpus.select("norm_url"), Seq("norm_url"), "left_anti")
      .select(col("norm_url"),
        GroupC.urlDomain(col("norm_url")).as("domain"))

  /** The corpus's own canonical URLs — the frontier diff's known set. */
  private def corpusUrls(docs: DataFrame): DataFrame =
    docs.select(GroupC.urlNormalize(GroupC.c13Url).as("norm_url"))

  private[graft] def d95Frontier(spark: SparkSession, sfDir: String): DataFrame =
    graft.operators.StageCache.persisted(s"$sfDir#d95_frontier") {
      val docs = Tables.fanned(spark, sfDir, "documents")
      frontierDiffOver(
        docs.select(GroupC.partsHtml(GroupC.frontierParts).as("html")),
        corpusUrls(docs))
    }

  def d95FrontierDiscovery(spark: SparkSession, sfDir: String): DataFrame =
    d95Frontier(spark, sfDir)
      .groupBy("domain")
      .agg(count(lit(1)).as("n_new_urls"), min(col("norm_url")).as("first_url"))
      .orderBy("domain")

  /** d96: the FULL stage-0 crawl-ingest compose (r19) — both curation
    * axes united in ONE lazily built plan, the shape a real crawl
    * pipeline runs on every arriving shard: markup→text (c11's kernel
    * over the constructed page), dedup by canonical URL (c13's kernel
    * over d92's collision corpus — smallest doc_id wins), the Gopher
    * quality gate over the SURVIVORS' cleaned text (the ONE shared
    * [[gopherOver]] body, so the composed gate cannot drift from the
    * declared d69/c12), then exact text dedup of the gate's keepers
    * (md5 of the cleaned text, keep-min — c1's kernel), reported as a
    * 4-row funnel. Each stage consumes the PREVIOUS stage's survivors —
    * the composed semantics the four separate queries cannot express.
    *
    * Scale shape: one scan-side projection evaluates both heavy
    * constructions (page→clean chain, URL→canonical chain) once per row
    * within its branch (each column is single-reference per projection —
    * CollapseProject fuses without duplicating); every keeper-derived
    * stage (URL count, gopher, exact dedup) hangs off the SAME
    * norm_url window exchange, which AQE reuses across them (the d56
    * runtime pin), so the construction inside that subtree pays once;
    * the stage-1 census branch re-runs the scan-side chain once more
    * (d90's nDec precedent — a census column on the shared frame would
    * widen every consumer for one count). The URL keep is a
    * WindowGroupLimit; the gopher gate adds per-row array expressions,
    * not shuffles; the exact dedup is one fixed-width (md5 sig)
    * HashAggregate exchange; the funnel metrics are five 1-row partial
    * aggs cross-joined broadcast and inline-exploded (d90's shape —
    * 4 rows at any corpus size).
    */
  def d96CrawlIngestE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    // r21 (the r20 verdict's fix): the base rides the d99/d100-rule
    // lazy-checkpoint barrier. Without it the un-barriered physical plan
    // scans the corpus SIX times (plans/r21/d96_crawl_ingest_e2e_before
    // .txt) — the funnel's census branch, the keeper count, the md5
    // dedup, and BOTH sides of the gopher join-back each re-derive the
    // markup+URL construction chain (the both-sides-recompute shape the
    // r20 verdict flagged). In production the barrier is the cleaned-
    // corpus table stage 0 lands anyway (d100's argument).
    // r22 (r21 verdict task 1): StageCache dropped — d96 was the only
    // consumer of the r21 `d96_base` entry (d99 builds its own base
    // from walked WARC bytes), so the cache only memoised d96's own
    // stage across bench passes. The lazy-checkpoint barrier stays.
    val base = docs.select(col("doc_id"),
      GroupC.markupClean(GroupC.partsHtml(GroupC.c11Parts))
        .as("clean_text"),
      GroupC.urlNormalize(GroupC.d92Url).as("norm_url"))
      .localCheckpoint(false)
    crawlIngestFunnel(docs, base)
  }

  /** d96's funnel body over any (doc_id, clean_text, norm_url) base —
    * the SHARED compose d99 re-enters from WARC-walked fields (one
    * definition, so the interchange-fed pipeline can never drift from
    * the declared d96). */
  private def crawlIngestFunnel(docs: DataFrame,
                                base: DataFrame): DataFrame = {
    // stage 2 consumes stage 1's SURVIVORS (non-empty extractions), not
    // all docs — without the length gate the funnel's "each stage
    // consumes the previous stage's survivors" contract is false for
    // 1→2 and `dropped` can go negative on a corpus with empty
    // extractions (r19 ADVICE; never fires on the constructed corpus,
    // whose every page cleans non-empty — oracle mirrors the gate)
    val keepers = base
      .filter(length(col("clean_text")) > 0L && col("norm_url").isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col("norm_url")).orderBy(col("doc_id"))))
      .filter(col("__rn") === 1).drop("__rn")
    val gopherKeep = gopherOver(
        keepers.select(col("doc_id"), col("clean_text").as("text")))
      .filter(col("keep")).select("doc_id")
    val unique = keepers.join(gopherKeep, "doc_id")
      .select(col("doc_id"), md5(col("clean_text")).as("sig"))
      .groupBy("sig").agg(min(col("doc_id")).as("keep_id"))
    val m = docs.agg(count(lit(1)).as("n_docs"))
      .crossJoin(broadcast(base.agg(
        count(when(length(col("clean_text")) > 0L, 1L)).as("n_clean"))))
      .crossJoin(broadcast(keepers.agg(count(lit(1)).as("n_urls"))))
      .crossJoin(broadcast(gopherKeep.agg(count(lit(1)).as("n_gopher"))))
      .crossJoin(broadcast(unique.agg(count(lit(1)).as("n_unique"))))
    m.select(explode(expr(
        """array(
          |named_struct('stage', '1_markup_extract',
          |  'docs_in', n_docs, 'docs_out', n_clean),
          |named_struct('stage', '2_url_dedup',
          |  'docs_in', n_clean, 'docs_out', n_urls),
          |named_struct('stage', '3_gopher_gate',
          |  'docs_in', n_urls, 'docs_out', n_gopher),
          |named_struct('stage', '4_exact_dedup',
          |  'docs_in', n_gopher, 'docs_out', n_unique))""".stripMargin))
        .as("r"))
      .select(col("r.*"))
      .withColumn("dropped", col("docs_in") - col("docs_out"))
      .orderBy("stage")
  }

  /** d99: the crawl pipeline fed from RAW INTERCHANGE BYTES (r20) —
    * d96's entire stage-0 funnel re-entered from a WARC walk instead of
    * direct constructions: each doc renders as the 3-record WARC blob
    * (c16's shared construction, carrying d92's collision-corpus URL as
    * Target-URI and the c11 page as response payload), the SHARED
    * [[GroupC.warcWalk]] frames the records back by Content-Length
    * arithmetic, and the walked (payload, Target-URI) pair feeds the
    * SHARED [[crawlIngestFunnel]] — markup→text → canonical-URL dedup →
    * Gopher gate → exact text dedup → the 4-row funnel. The oracle is
    * d96's VERBATIM (the d89-shares-d88 equivalence discipline): the
    * walk is lossless on (payload, uri) by construction, so any framing
    * slip — an offset error, a Content-Length misread, a terminator
    * miscount — corrupts clean_text or norm_url downstream and the hash
    * gate catches it through the funnel. The first leg of a real
    * pipeline (Common Crawl WARC → curated corpus) as ONE oracle-checked
    * plan.
    *
    * Scale shape: adds c16's per-row construct+walk (scan-side,
    * header-sized fragment ops) in front of d96's compose — the blob is
    * non-cheap multi-reference so CollapseProject keeps it once per row;
    * everything downstream is d96's exchange-reuse shape unchanged.
    */
  def d99WarcPipelineE2e(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    // the walked base MUST sit behind a plan barrier the optimizer
    // cannot cross. The funnel's keeper filter otherwise PUSHES DOWN
    // through the walk's 12 projection levels, and because every level
    // references its parent column ~4 times (the framing arithmetic:
    // instr + header slice + two substr offsets), alias substitution
    // multiplies the predicate tree ~4× per level — an exponentially
    // sized expression that burned 223.8 s at sf0.1 and OOMs a
    // spec-heap in canonicalization outright (jstack-verified; c16
    // never triggers it — no filter above its walk — and d96's direct
    // constructions substitute one level only). A repartition exchange
    // does NOT help (filters push through exchanges); the LAZY
    // localCheckpoint is the fix — a LogicalRDD leaf predicate pushdown
    // stops at, computing the walk exactly once on first action and
    // serving every funnel branch from the checkpoint. StageCache (the
    // d95/c17 hub policy) additionally shares that materialization
    // across calls under Bench/Verify.
    val base = graft.operators.StageCache.persisted(s"$sfDir#d99_base") {
      val walked = GroupC.warcWalk(docs.select(col("doc_id"),
        GroupC.c16BlobWith(GroupC.d92Url, GroupC.c11Html).as("warc")))
      walked.select(col("doc_id"),
        GroupC.markupClean(col("payload")).as("clean_text"),
        GroupC.urlNormalize(
          regexp_extract(col("hdr3"), GroupC.WarcUriP, 1)).as("norm_url"))
        .localCheckpoint(false)
    }
    crawlIngestFunnel(docs, base)
  }

  /** d100: the GATED crawl cycle (r20 capstone) — the composed
    * semantics no pair of declared queries expresses: a real crawler
    * does not follow links from pages its quality gate rejected, so the
    * frontier must be harvested from SURVIVORS ONLY. One plan: markup →
    * text over the frontier corpus (c11's kernel), the Gopher gate (the
    * ONE shared [[gopherOver]] body), outlink harvest FROM THE KEEPERS
    * (c14's extraction), canonical diff against the corpus's own URLs
    * (d95's body shape), then the robots-gated politeness schedule (the
    * SHARED [[fetchPlanOver]] tail — d97's host-grouped parse, cap and
    * cumsum verbatim). Ingest gate → discovery → schedule, end to end.
    *
    * Scale shape: the page construction evaluates once per row (the
    * html/text projection is multi-reference non-cheap — CollapseProject
    * declines); the gopher verdict joins back on doc_id (d96's shape);
    * the explode ships canonical strings only; the diff shuffles on
    * d92's canonical-URL key with the corpus side streamed once; the
    * schedule's parse is domains-sized with decisions broadcast back
    * and both windows ride one sort (d97's pins). Nothing corpus-sized
    * moves after the gate.
    */
  def d100GatedFrontierPlan(spark: SparkSession, sfDir: String)
      : DataFrame = {
    // lazy checkpoint (the d99-rule barrier, here for COST not safety):
    // the gopher verdict joins back to this frame, and without the
    // barrier both join sides re-run the construct+markup chain —
    // measured 10.1 → 7.9 s isolated at sf0.1 with the one
    // materialization (in production the page bytes are TABLE data,
    // not a construction, so the barrier is exactly the cleaned-corpus
    // materialization a real pipeline lands anyway). StageCache
    // additionally shares it across the driver's hash + min-of-3 bench
    // passes (the d99_base layering).
    val cleaned = graft.operators.StageCache
      .persisted(s"$sfDir#d100_cleaned") {
        Tables.fanned(spark, sfDir, "documents")
          .select(col("doc_id"), GroupC.frontierHtml.as("html"))
          .select(col("doc_id"), col("html"),
            GroupC.markupClean(col("html")).as("text"))
          .localCheckpoint(false)
      }
    // r21: the gated frontier is itself a barrier — the shared
    // [[fetchPlanOver]] tail references its frontier TWICE (the URL
    // rows and the domains-sized DISTINCT hosts build side), and
    // without a barrier both references re-derive the whole
    // gopher-join + outlink-normalize + anti-join subtree (the entire
    // diff chain appears twice in plans/r21/d100_gated_frontier_plan_
    // before.txt, operators 1-20 vs 21-44). r22 (r21 verdict task 1):
    // the r21 StageCache entry here was single-consumer (only d100
    // reads it) and is dropped — the barrier is the real fix; the
    // cache only served d100's own frontier back across bench passes.
    val keepers = cleaned.join(
      gopherOver(cleaned.select(col("doc_id"), col("text")))
        .filter(col("keep")).select("doc_id"),
      "doc_id")
    val gatedFrontier =
      frontierDiffOver(
          keepers.select(col("html")),
          corpusUrls(Tables.fanned(spark, sfDir, "documents")))
        .filter(col("domain").isNotNull)
        .localCheckpoint(false)
    fetchPlanOver(gatedFrontier)
  }

  /** The fetch-plan oracle TAIL over any relation `g(norm_url, domain)`
    * — hk (host key) → dec (path + delay) → sc (longest-match lengths)
    * → al (allowed) → sched (rank + cumsum) → the capped SELECT; shared
    * verbatim by d97 and d100 (mirror of the shared [[fetchPlanOver]]
    * Spark body). */
  private def fetchPlanOracleTail: String =
    s"""hk AS (SELECT domain,
       |  COALESCE(CAST(NULLIF(regexp_extract(domain, '([0-9]+)', 1), '')
       |    AS BIGINT), 0) % 37 AS k
       |  FROM (SELECT DISTINCT domain FROM g WHERE domain IS NOT NULL)),
       |dec AS (SELECT g.norm_url, g.domain, hk.k,
       |  regexp_replace(g.norm_url, '$CanonPathP', '') AS path,
       |  1 + hk.k % 9 AS crawl_delay_s
       |  FROM g JOIN hk ON g.domain = hk.domain),
       |sc AS (SELECT norm_url, domain, crawl_delay_s,
       |  GREATEST(
       |    CASE WHEN k % 11 = 7 AND starts_with(path, '/')
       |         THEN 1 ELSE 0 END,
       |    CASE WHEN k % 4 = 0 AND starts_with(path, '/read/')
       |         THEN 6 ELSE 0 END,
       |    CASE WHEN starts_with(path, '/read/' || CAST(k % 10 AS VARCHAR))
       |         THEN 7 ELSE 0 END,
       |    CASE WHEN starts_with(path, '/' || CAST(k % 10 AS VARCHAR))
       |         THEN 2 ELSE 0 END)::BIGINT AS best_disallow,
       |  (CASE WHEN starts_with(path,
       |      '/' || CAST(k % 10 AS VARCHAR) || CAST(k % 3 AS VARCHAR))
       |    THEN 3 ELSE 0 END)::BIGINT AS best_allow
       |  FROM dec),
       |al AS (SELECT domain, norm_url, crawl_delay_s FROM sc
       |  WHERE best_allow >= best_disallow),
       |sched AS (SELECT domain, norm_url, crawl_delay_s,
       |  CAST(ROW_NUMBER() OVER (PARTITION BY domain ORDER BY norm_url)
       |    AS BIGINT) AS fetch_rank,
       |  CAST(COALESCE(SUM(crawl_delay_s) OVER (PARTITION BY domain
       |    ORDER BY norm_url
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
       |    AS BIGINT) AS start_at_s
       |  FROM al)
       |SELECT domain, norm_url, fetch_rank,
       |  CAST(crawl_delay_s AS BIGINT) AS crawl_delay_s, start_at_s
       |FROM sched WHERE fetch_rank <= 10
       |ORDER BY domain, fetch_rank""".stripMargin

  /** The frontier DIFF oracle chain over any `(doc_id, html)` relation,
    * ending at `g(norm_url, domain)` — mirror of the shared
    * [[frontierDiffOver]] Spark body (one CTE builder, so the d95/d97
    * and d100 oracles cannot drift from each other either). */
  private def frontierDiffCtesFrom(htmlRel: String): String =
    s"""l AS (SELECT doc_id,
       |  unnest(regexp_extract_all(html, '${GroupC.HrefP}', 1)) AS url
       |  FROM $htmlRel),
       |${GroupC.c13NormCtes("", "url", "l")},
       |ol AS (SELECT DISTINCT norm_url FROM n WHERE norm_url IS NOT NULL),
       |${GroupC.c13NormCtes("", from = "documents", prefix = "c")},
       |f AS (SELECT norm_url FROM ol
       |  WHERE NOT EXISTS (SELECT 1 FROM cn WHERE cn.norm_url = ol.norm_url)),
       |g AS (SELECT norm_url,
       |  ${GroupC.urlDomainSql("norm_url")} AS domain FROM f)"""
      .stripMargin

  /** The frontier's oracle CTE chain ending at `g(norm_url, domain)` —
    * d95's body before its census, shared verbatim by the d95 and d97
    * oracles (mirror of the shared [[d95Frontier]] Spark body). */
  private def frontierOracleCtes: String =
    s"""h AS (SELECT doc_id,
       |  ${GroupC.partsHtmlSql(GroupC.frontierParts)} AS html FROM documents),
       |${frontierDiffCtesFrom("h")}"""
      .stripMargin

  /** d97's per-HOST robots.txt, constructed from the domain's embedded
    * numeric key (k = digits(domain) % 37; digit-free domains key 0):
    * an optional BLANKET `Disallow: /` (1 host in 11 — the real-world
    * full-block case), an optional section block `Disallow: /read/`
    * (1 in 4), a digit-prefix `Disallow: /read/<d>` and `Disallow: /<d>`
    * (string-prefix semantics over the frontier's two path families),
    * a LONGER `Allow: /<d><m>` exception (longest-match precedence must
    * win), and the per-host `Crawl-delay`. Spark-side only — the oracle
    * re-derives every decision arithmetically and never sees this text.
    */
  private[graft] def d97RobotsText(k: Column): Column = concat(
    lit("User-agent: *\n"),
    when(k % 11 === 7, lit("Disallow: /\n")).otherwise(lit("")),
    when(k % 4 === 0, lit("Disallow: /read/\n")).otherwise(lit("")),
    lit("Disallow: /read/"), (k % 10).cast("string"), lit("\n"),
    lit("Disallow: /"), (k % 10).cast("string"), lit("\n"),
    lit("Allow: /"), (k % 10).cast("string"), (k % 3).cast("string"),
    lit("\n"), lit("Crawl-delay: "), (lit(1L) + k % 9).cast("string"),
    lit("\n"))

  /** Path (with query) of an already-canonical URL — everything after
    * the authority; the robots match subject (RFC 9309 matches the path
    * and query). Shared constant with the oracle. */
  private[graft] val CanonPathP = "^[a-z]+://[^/]*"

  /** d97: the fetch-plan compose (r20) — frontier × robots × politeness
    * budget, the artifact a crawler actually consumes: d95's discovered
    * URLs (the SHARED [[d95Frontier]] body), gated by a per-HOST
    * robots.txt decision (c15's kernel — line-anchored rule extraction +
    * the longest-match fold — evaluated HOST-GROUPED: the robots text is
    * constructed and PARSED once per registered domain on the
    * domains-sized DISTINCT frame, decisions broadcast back to the
    * URL rows; the r19 verdict's missing #3 made code), then scheduled
    * per domain under its crawl delay: fetch_rank caps at 10 per host
    * (d91's cap discipline) and start_at_s is the running crawl-delay
    * total (d20's window family) — the ordered, time-budgeted per-domain
    * work list.
    *
    * Scale shape: the frontier pays d92's canonical-URL exchange (shared
    * with d95 — AQE reuses it); the robots parse runs on a frame the
    * size of the DOMAIN set, not the URL set (at 100 TB that is the
    * difference between parsing billions of identical texts and
    * millions of distinct ones — c15's own scale note made structural,
    * plan-pinned in PlanShapeSpec), and its decisions broadcast back;
    * the cap is `row_number ≤ k` over a domain-partitioned window — the
    * WindowGroupLimit shape, so each task ships ≤ k rows per domain —
    * and the cumsum rides the SAME sort (same partition + order keys,
    * no second sort). Nothing corpus-sized moves after the gate.
    */
  def d97FetchPlan(spark: SparkSession, sfDir: String): DataFrame =
    fetchPlanOver(d95Frontier(spark, sfDir)
      // a URL with no registered domain has no robots host nor cap
      // group to live in (d91's NULL discipline; none on this corpus)
      .filter(col("domain").isNotNull))

  /** d97's robots-gate + schedule body over any (norm_url, domain)
    * frontier — the SHARED tail d100 re-enters with its quality-gated
    * frontier (one definition, so the composed cycle cannot drift from
    * the declared d97). */
  private def fetchPlanOver(frontier: DataFrame): DataFrame = {
    // host frame off the frontier — a domains-sized distinct
    val hosts = frontier.select("domain").distinct()
      .withColumn("k", GroupC.hostKey(col("domain")))
      // robots is non-cheap multi-reference: CollapseProject keeps the
      // construction evaluated once per HOST row (c11's plan argument)
      .withColumn("robots", d97RobotsText(col("k")))
      .select(col("domain"),
        regexp_extract_all(col("robots"),
          lit(GroupC.RobotsDisP), lit(1)).as("dis"),
        regexp_extract_all(col("robots"),
          lit(GroupC.RobotsAlwP), lit(1)).as("alw"),
        regexp_extract(col("robots"), GroupC.RobotsDelayP, 1)
          .cast("long").as("crawl_delay_s"))
    val w = Window.partitionBy("domain").orderBy("norm_url")
    frontier.join(broadcast(hosts), "domain")
      .withColumn("path", regexp_replace(col("norm_url"), CanonPathP, ""))
      .filter(GroupC.c15BestLen(col("alw"), col("path")) >=
        GroupC.c15BestLen(col("dis"), col("path")))
      .select(col("domain"), col("norm_url"), col("crawl_delay_s"))
      .withColumn("fetch_rank", row_number().over(w).cast("long"))
      .filter(col("fetch_rank") <= 10)
      .withColumn("start_at_s", coalesce(sum(col("crawl_delay_s")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("domain"), col("norm_url"), col("fetch_rank"),
        col("crawl_delay_s"), col("start_at_s"))
      .orderBy("domain", "fetch_rank")
  }

  /** d98: the frontier's SOURCE union (r20) — the two discovery inputs a
    * crawler actually merges, censused with provenance: d95's outlink
    * discoveries (the SHARED StageCache'd [[d95Frontier]] body) and
    * c17's sitemap discoveries (the SHARED StageCache'd
    * [[GroupC.c17Fresh]] body), unioned under a `source` tag and
    * censused per registered domain — per-source distinct counts, the
    * distinct total (honest about overlap: a URL both sources surface
    * counts once), and the lexicographically first URL as the
    * deterministic representative. The compose that makes the sitemap
    * leg actually FEED the frontier rather than stand beside it.
    *
    * Scale shape: both operands are the standing discovery frames their
    * declared queries persist (one materialization per corpus across
    * the census + this union — a production crawl's frontier table
    * between passes); the union ships (domain, norm_url, tag) strings
    * only; the census is one partial agg on the domain key. At 100 TB
    * nothing here re-derives — the cost is the one groupBy over frames
    * already paid for.
    */
  def d98FrontierSources(spark: SparkSession, sfDir: String): DataFrame = {
    val outlink = d95Frontier(spark, sfDir)
      .filter(col("domain").isNotNull)
      .withColumn("source", lit("outlink"))
    val sitemap = GroupC.c17Fresh(spark, sfDir)
      .withColumn("source", lit("sitemap"))
    outlink.unionByName(sitemap)
      .groupBy("domain")
      .agg(
        countDistinct(when(col("source") === "outlink", col("norm_url")))
          .as("n_outlink"),
        countDistinct(when(col("source") === "sitemap", col("norm_url")))
          .as("n_sitemap"),
        countDistinct(col("norm_url")).as("n_total"),
        min(col("norm_url")).as("first_url"))
      .orderBy("domain")
  }

  /** c10: media DEDUP-volume card — GroupC's c9 corpus card extended
    * with the decision column a curation card actually exists to drive
    * (the r14/r15 review's carried ask): per modality corpus, the
    * near-dup VOLUME — verified pair count, distinct docs implicated,
    * cross-format pair count where the corpus mixes containers (d86),
    * and cluster count + largest cluster for the modality with the full
    * clustering lifecycle (d80 over d78). One row per modality family
    * (image BMP / PNG / GIF / mixed-container image / audio WAV / video
    * Y4M), NULL where a metric doesn't apply — the d68 data-card
    * discipline of showing structure rather than dropping it.
    *
    * Scale shape: every pair source is the modality's StageCache'd hub
    * (d78Pairs' policy — the construct+decode+band pass pays once per
    * corpus ACROSS queries, so the card costs five pair-frame aggs and
    * one cluster agg, not five re-decodes); each per-modality census is
    * a partial agg to ONE row cross-joined broadcast — nothing
    * corpus-sized moves.
    */
  def c10MediaDedupCard(spark: SparkSession, sfDir: String): DataFrame = {
    val nullLong = lit(null).cast("long")
    def volume(pairs: DataFrame, fmt: String, crossParity: Boolean)
        : DataFrame = {
      val p = pairs.select("doc_a", "doc_b")
      val counts = p.agg(
        count(lit(1)).as("n_pairs"),
        // count(when(...)) not sum(when(...)): over an EMPTY pair frame
        // sum returns NULL while the oracle's COUNT returns 0 — a
        // degenerate corpus would hash-mismatch (review finding r16)
        (if (crossParity)
          count(when(col("doc_a") % 2 =!= col("doc_b") % 2, 1L))
        else nullLong).as("n_cross_format_pairs"))
      val docs = p.select(col("doc_a").as("d"))
        .unionAll(p.select(col("doc_b").as("d")))
        .agg(countDistinct(col("d")).as("n_dup_docs"))
      counts.crossJoin(broadcast(docs))
        .select(lit(fmt).as("media_format"), col("n_pairs"),
          col("n_dup_docs"), col("n_cross_format_pairs"))
    }
    val clusterAgg = d80ImageClusters(spark, sfDir)
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        max(col("cluster_size")).as("max_cluster"))
    val bmp = volume(d78Pairs(spark, sfDir), "image_bmp", crossParity = false)
      .crossJoin(broadcast(clusterAgg))
    val others = Seq(
      volume(d84Pairs(spark, sfDir), "image_png", crossParity = false),
      volume(d87Pairs(spark, sfDir), "image_gif", crossParity = false),
      volume(d86Pairs(spark, sfDir), "image_mixed", crossParity = true),
      volume(d82Pairs(spark, sfDir), "audio_wav", crossParity = false),
      volume(d85Pairs(spark, sfDir), "video_y4m", crossParity = false))
      .map(_.withColumn("n_clusters", nullLong)
        .withColumn("max_cluster", nullLong))
    others.foldLeft(bmp)(_ unionByName _).orderBy("media_format")
  }

  def d71DocEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables(spark, sfDir, "documents")
    docs.select(col("doc_id"),
        explode(GroupC.tokens(col("text"))).as("token"))
      .filter(col("token") =!= "")
      .groupBy("doc_id", "token").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_toks"),
        count(lit(1)).as("n_types"),
        // per-term doubles cast to decimal before summing: exact,
        // merge-order-independent aggregation (review finding, r13)
        expr("cast(sum(cast(c * ln(c) as decimal(30,15))) as double)")
          .as("clnc"))
      .select(col("doc_id"), col("n_toks"), col("n_types"),
        round((log(col("n_toks")) - col("clnc") / col("n_toks")) /
          log(lit(2.0)), 4).as("entropy_bits"))
      .withColumn("low_entropy", col("entropy_bits") < 3.0)
      .orderBy("doc_id")
  }

  /** d66: shuffle-skew profiling report — the operational pre-flight
    * behind b35's salted join: for each candidate shuffle key, the top-5
    * heavy hitters with their fixed-point share, the straggler factor a
    * 32-way shuffle would see (share × 32 — how many partitions' worth of
    * work lands on the hot key's task), and the salting recommendation
    * (straggler > 2× ideal). A skew decision made from MEASURED key
    * distributions instead of folklore — the report a pipeline publishes
    * before its expensive joins.
    *
    * Scale shape, per profiled key: one partial-agg count groupBy, a
    * TakeOrderedAndProject top-5 (per-partition heaps — the global
    * window a naive rank would plan dies on billion-key columns), and a
    * 1-row total broadcast cross (d16's pattern). The report is
    * 4 keys × ≤ 5 rows at any corpus size.
    */
  def d66SkewReport(spark: SparkSession, sfDir: String): DataFrame = {
    def prof(df: DataFrame, table: String, keyName: String,
        key: org.apache.spark.sql.Column): DataFrame = {
      val counts = df.groupBy(key.cast("string").as("key_value"))
        .agg(count(lit(1)).as("cnt"))
      // total from the ALREADY-AGGREGATED key frame, not a second corpus
      // scan (and AQE reuses the shared groupBy stage with the top-5 cut)
      val total = counts.agg(sum("cnt").as("total"))
      counts.orderBy(col("cnt").desc, col("key_value")).limit(5)
        .crossJoin(broadcast(total))
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("cnt").desc, col("key_value"))).cast("long"))
        .select(lit(table).as("tbl"), lit(keyName).as("key_name"),
          col("key_value"), col("cnt"),
          expr("(cnt * 1000000) div total").as("share_fp"), col("rnk"))
    }
    val docs = Tables(spark, sfDir, "documents")
    val ev = Tables.events(spark, sfDir)
    prof(docs, "documents", "lang", col("lang"))
      .unionByName(prof(docs, "documents", "source", col("source")))
      .unionByName(prof(ev, "events", "event_type", col("event_type")))
      .unionByName(prof(ev, "events", "user_id", col("user_id")))
      .withColumn("straggler_x32_fp", col("share_fp") * 32)
      .withColumn("needs_salting", col("share_fp") * 32 > 2000000L)
      .orderBy("tbl", "key_name", "rnk")
  }

  /** d63: BPE merge-table training — the iterative tokenizer-training
    * loop d38 only reports round one of: N rounds of
    * [[graft.operators.BpeTrain]] over the frequency-weighted word-type
    * table learn the merge table a subword tokenizer ships (Sennrich et
    * al. 2016, the public subword-BPE procedure). Output is the learned
    * table itself — rank, the merged pair, the resulting symbol, and the
    * weighted pair count that round saw.
    *
    * Scale shape: ONE corpus-bounded aggregation (word counts — d38's
    * frame); every training round after is an aggregation over the
    * vocabulary-sized type table with a 1-row argmax collect (model-sized
    * driver state, KMeans' discipline) and a per-round eager checkpoint.
    * Iterative fixpoint ⇒ no SQL oracle (d27's contract): rows-only +
    * BpeTrainSpec pins (the textbook Sennrich corpus hand-computed merge
    * sequence, round-1 equality with d38's rank-1 pair, determinism).
    * Training memoizes per corpus (AnnTuning's one-time-build rule).
    */
  /** The corpus's trained BPE merge table (8 rounds), shared by d63's
    * training report and d73's encode pass — one training per corpus via
    * the memo, disk-backed through ModelStore under the ModelCache gate
    * (a fresh JVM's pass 1 reloads instead of re-running the rounds,
    * d41's sketch discipline).
    */
  private def trainedBpeMerges(spark: SparkSession,
      sfDir: String): Seq[graft.operators.BpeTrain.Merge] = {
    val docs = Tables(spark, sfDir, "documents")
    val words = docs
      .select(explode(GroupC.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
      .groupBy("w").agg(count(lit(1)).as("wc"))
    bpeMerges(s"bpe|$sfDir")(
      graft.operators.ModelCache.cached("bpe", s"bpe|$sfDir", docs)(
          p => graft.operators.BpeTrain.fromBytes(
            graft.operators.ModelStore.loadSketch(spark, p)))(
          (p, m) => graft.operators.ModelStore.saveSketch(spark, p,
            graft.operators.BpeTrain.toBytes(m)))(
        graft.operators.BpeTrain.train(words, merges = 8)))
  }

  def d63BpeTrain(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainedBpeMerges(spark, sfDir)
    spark.createDataFrame(merges)
      .select(col("rank").cast("long").as("rank"), col("left"), col("right"),
        concat(col("left"), col("right")).as("merged"),
        col("count").as("pair_count"))
      .orderBy("rank")
  }

  /** d73: BPE ENCODE — the apply half closing d63's tokenizer lifecycle
    * (train → ship the table → encode the corpus with it): every
    * document's tokens are rewritten through the trained merge table and
    * the per-doc compression is reported (words, characters, emitted
    * symbols, chars-per-symbol fixed-point). Train and encode share ONE
    * rewrite rule ([[graft.operators.BpeTrain.encodeExpr]] is the
    * trainer's own fold, rank-ordered), so the encoded corpus cannot
    * disagree with the table's training dynamics — pinned in BpeTrainSpec
    * against a hand-derived textbook encoding.
    *
    * Scale shape: the encode fold runs over the word-TYPE table (Sennrich
    * corpus trick, d63's argument — vocab-sized compute regardless of
    * corpus), with the merge table embedded as plan literals
    * (NearestCentroid's constant-plan discipline); the per-doc report
    * then joins occurrences to encoded types on the token key — d16's
    * vocab-build-side join shape — and partial-aggs to one row per doc.
    * No oracle (the table comes from iterative training, d63's contract):
    * rows-only + BpeTrainSpec pins (textbook encode, zero-merge identity,
    * n_words ≤ n_symbols ≤ n_chars monotonicity).
    */
  def d73BpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val merges = trainedBpeMerges(spark, sfDir)
    val docs = Tables(spark, sfDir, "documents")
    val occ = docs.select(col("doc_id"),
        explode(GroupC.tokens(col("text"))).as("w"))
      .filter(col("w") =!= "")
    val types = occ.select("w").distinct()
      .withColumn("n_sym", size(expr(graft.operators.BpeTrain.encodeExpr(
        graft.operators.BpeTrain.SeedSymExpr, merges))).cast("long"))
      .withColumn("n_ch", length(col("w")).cast("long"))
    occ.join(types, "w")
      .groupBy("doc_id").agg(
        count(lit(1)).as("n_words"),
        sum("n_ch").as("n_chars"),
        sum("n_sym").as("n_symbols"))
      .select(col("doc_id"), col("n_words"), col("n_chars"), col("n_symbols"),
        expr("n_chars * 100 div n_symbols").as("chars_per_symbol_fp"))
      .orderBy("doc_id")
  }

  private val bpeMemo =
    new java.util.concurrent.ConcurrentHashMap[
      String, Memo[Seq[graft.operators.BpeTrain.Merge]]]()
  /** One BPE training per corpus key (the putIfAbsent-lazy-holder lock
    * discipline shared with cmsBytes/AnnTuning/PqIndex/KMeans).
    */
  private def bpeMerges(key: String)(
      build: => Seq[graft.operators.BpeTrain.Merge])
      : Seq[graft.operators.BpeTrain.Merge] = {
    val fresh = new Memo(() => build)
    val prior = bpeMemo.putIfAbsent(key, fresh)
    (if (prior != null) prior else fresh).value
  }
  private[graft] def clearBpeMemo(): Unit = bpeMemo.clear()

  /** d62: contrastive pair mining — the hard-negative selection an
    * embedding-model trainer runs over a labeled corpus: for each query
    * vector, the most similar SAME-label vector (the positive) and the
    * most similar DIFFERENT-label vector (the hard negative — the
    * impostor that makes the triplet informative), plus the margin
    * between them. Exact cosine over d3's bounded-query broadcast shape;
    * one (qid, same-label) window ranks both roles in a single pass, and
    * the two rank-1 rows fold into one output row per query via
    * conditional struct-max (no self-join of the ranked frame). A query
    * whose label has no other member gets NULL positive columns — the
    * honest answer, mirrored by the oracle.
    */
  def d62HardNegatives(spark: SparkSession, sfDir: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    val e = Tables(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"),
        col("embedding").cast("array<double>").as("v"))
    val q = e.filter(col("vec_id") < 50)
      .select(col("vec_id").as("qid"), col("label").as("qlabel"),
        col("v").as("qv"))
    val sims = e.join(broadcast(q), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id").as("nn_id"),
        (col("label") === col("qlabel")).as("same"),
        GroupC.cosine("v", "qv").as("s"))
    val wRole = Window.partitionBy("qid", "same")
      .orderBy(col("s").desc, col("nn_id"))
    sims.withColumn("rn", row_number().over(wRole))
      .filter(col("rn") === 1)
      .groupBy("qid")
      .agg(
        max(when(col("same"), struct(col("nn_id"), col("s")))).as("p"),
        max(when(!col("same"), struct(col("nn_id"), col("s")))).as("n"))
      .select(col("qid"),
        col("p.nn_id").as("pos_id"), round(col("p.s"), 6).as("pos_sim"),
        col("n.nn_id").as("neg_id"), round(col("n.s"), 6).as("neg_sim"),
        round(col("p.s") - col("n.s"), 6).as("margin"))
      .orderBy("qid")
  }

  /** d59: cross-document boilerplate-span removal accounting — the
    * RefinedWeb/CCNet "repeated lines across pages are navigation chrome,
    * strip them" pass. This corpus has no newlines, so the removable unit
    * is a deterministic proxy with the same computational shape: the
    * document's token stream cut into non-overlapping 8-token spans (tail
    * partial kept). A span is BOILERPLATE when its text occurs in ≥ 2
    * distinct documents (df_min = 2, sized to this synthetic corpus; web
    * corpora tune df_min against shard size). Per document the audit
    * reports span/token totals, how much boilerplate was found, and the
    * fixed-point token-retention ratio the curation report publishes.
    *
    * Scale shape: spans explode scan-side and immediately compress to a
    * 32-byte md5 key (d8's rule — the span TEXT never shuffles); the df
    * count is one partial-aggregated groupBy on that key; membership
    * comes back as one left join against the (deduplicated, fanout-free)
    * boilerplate key set — at 100 TB that set is the df≥2 tail, far
    * smaller than the span stream. No all-pairs anything: a span shared
    * by a million docs is ONE key row on the build side.
    */
  def d59BoilerplateSpans(spark: SparkSession, sfDir: String): DataFrame =
    boilerplateSpans(Tables(spark, sfDir, "documents"))

  /** d59's body on an arbitrary (doc_id, text) frame — reusable in specs. */
  private[queries] def boilerplateSpans(docs: DataFrame): DataFrame = {
    val S = 8
    val spans = docs
      .select(col("doc_id"), GroupC.tokens(col("text")).as("ts"))
      .select(col("doc_id"), explode(expr(
        s"transform(sequence(0, (size(ts) - 1) div $S), " +
          s"i -> slice(ts, i * $S + 1, $S))")).as("sp"))
      .select(col("doc_id"), md5(array_join(col("sp"), " ")).as("k"),
        size(col("sp")).cast("long").as("n_tok"))
    val boiler = spans.groupBy("k")
      .agg(countDistinct("doc_id").as("nd"))
      .filter(col("nd") >= 2)
      .select("k")
    spans.join(boiler.withColumn("is_boiler", lit(1)), Seq("k"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        sum(when(col("is_boiler").isNotNull, 1L).otherwise(0L)).as("n_boiler"),
        sum("n_tok").as("n_tokens"),
        sum(when(col("is_boiler").isNull, col("n_tok")).otherwise(0L))
          .as("n_tokens_kept"))
      .withColumn("retention_fp", expr("(n_tokens_kept * 10000) div n_tokens"))
      .orderBy("doc_id")
  }

  val queries: Map[String, Q] = Map(
    "d12_sketch_stats"     -> (d12SketchStats _),
    "d14_dedup_clusters"   -> (d14DedupClusters _),
    "d20_pack_sequences"   -> (d20PackSequences _),
    "d21_quantize_embed"   -> (d21QuantizeEmbed _),
    "d22_pipeline_e2e"     -> (d22PipelineE2e _),
    "d17_quota_sample"     -> (d17QuotaSample _),
    "d18_repetition"       -> (d18Repetition _),
    "d19_decontaminate"    -> (d19Decontaminate _),
    "d23_bloom_decon"      -> (d23BloomDecon _),
    "d24_fuzzy_join"       -> (d24FuzzyJoin _),
    "d57_fuzzy_join2"      -> (d57FuzzyJoin2 _),
    "d25_profile"          -> (d25Profile _),
    "d26_mix_upsample"     -> (d26MixUpsample _),
    "d27_kmeans"           -> (d27KMeans _),
    "d28_chunk_overlap"    -> (d28ChunkOverlap _),
    "d29_bigram_pmi"       -> (d29BigramPmi _),
    "d30_containment_probe" -> (d30ContainmentProbe _),
    "d31_dedup_clusters_star" -> (d31DedupClustersStar _),
    "d32_bigram_novelty"   -> (d32BigramNovelty _),
    // d33 is approximate (PQ distortion) — no oracle by the driver
    // contract, rows-only; overlap-vs-exact pinned in PipelineOpsSpec.
    "d33_ann_pq"           -> (d33AnnPq _),
    "d34_dedup_incremental" -> (d34DedupIncremental _),
    "d35_filtered_knn"     -> (d35FilteredKnn _),
    // d36 is approximate (policy-routed ANN under a predicate) — rows-only;
    // policy thresholds + overlap-vs-d35 pinned in PipelineOpsSpec.
    "d36_filtered_ann"     -> (d36FilteredAnn _),
    "d37_split_sharded"    -> (d37SplitSharded _),
    "d38_bpe_pairs"        -> (d38BpePairs _),
    "d40_length_histogram" -> (d40LengthHistogram _),
    // d41 is approximate (CMS-gated vocab) — rows-only; one-sidedness and
    // deviation vs d32's exact gate pinned in PipelineOpsSpec.
    "d41_bigram_novelty_cms" -> (d41BigramNoveltyCms _),
    "d42_outlier_docs"     -> (d42OutlierDocs _),
    // d43 is approximate (signature-screened verify) — rows-only;
    // subset-of-d30 + measured recall pinned in PipelineOpsSpec.
    "d43_containment_minhash" -> (d43ContainmentMinhash _),
    "d44_contamination_report" -> (d44ContaminationReport _),
    "d45_token_rarity"     -> (d45TokenRarity _),
    "d46_dedup_keep_best"  -> (d46DedupKeepBest _),
    "d47_source_overlap"   -> (d47SourceOverlap _),
    "d48_label_knn"        -> (d48LabelKnn _),
    // d52 is approximate (ANN candidate pool) — rows-only; agreement vs
    // d48's exact scan + candidate-volume bound pinned in PipelineOpsSpec.
    "d52_label_knn_ann"    -> (d52LabelKnnAnn _),
    "d49_label_purity"     -> (d49LabelPurity _),
    "d50_temperature_sample" -> (d50TemperatureSample _),
    // d51 composes k-means (iterative fixpoint — no oracle); drift/OOD
    // detection and determinism pinned in PipelineOpsSpec.
    "d51_embedding_drift"  -> (d51EmbeddingDrift _),
    // d53 consumes d51's trigger (k-means family — no oracle); recall
    // non-regression + only-flagged-retrain pinned in CellMaintenanceSpec.
    "d53_ivf_maintain"     -> (d53IvfMaintain _),
    // d54 serves the ModelStore-persisted maintained model (k-means
    // family — no oracle); zero-training serve path + determinism pinned.
    "d54_maintained_serve" -> (d54MaintainedServe _),
    "d55_snapshot_diff"    -> (d55SnapshotDiff _),
    "d56_pipeline_funnel"  -> (d56PipelineFunnel _),
    "d58_lm_score"         -> (d58LmScore _),
    "d59_boilerplate_spans" -> (d59BoilerplateSpans _),
    // d60 is approximate twice over (IVF cell miss + PQ distortion) —
    // rows-only; overlap/subset/determinism pinned in PipelineOpsSpec.
    "d60_ann_ivfpq"        -> (d60AnnIvfPq _),
    "d61_budget_assembly"  -> (d61BudgetAssembly _),
    "d62_hard_negatives"   -> (d62HardNegatives _),
    // d63 is an iterative fixpoint (N-round BPE merge training) — no SQL
    // oracle (d27's contract); textbook-sequence + d38-round-1 +
    // determinism pins in BpeTrainSpec.
    "d63_bpe_train"        -> (d63BpeTrain _),
    // d73 encodes with d63's trained table (iterative model — no SQL
    // oracle, d63's contract); textbook-encode + identity + monotonicity
    // pins in BpeTrainSpec.
    "d73_bpe_encode"       -> (d73BpeEncode _),
    "d64_hashed_tf"        -> (d64HashedTf _),
    "d65_token_drift"      -> (d65TokenDrift _),
    "d66_skew_report"      -> (d66SkewReport _),
    "d67_exact_substring"  -> (d67ExactSubstring _),
    "d68_data_card"        -> (d68DataCard _),
    "d69_gopher_rules"     -> (d69GopherRules _),
    "d70_zipf_fit"         -> (d70ZipfFit _),
    "d71_doc_entropy"      -> (d71DocEntropy _),
    "d72_source_divergence" -> (d72SourceDivergence _),
    "d74_cdc_chunks"       -> (d74CdcChunks _),
    "d75_chunk_dedup"      -> (d75ChunkDedup _),
    "d76_lang_confusion"   -> (d76LangConfusion _),
    "d77_remove_shared_chunks" -> (d77RemoveSharedChunks _),
    "d78_image_dedup" -> (d78ImageDedup _),
    "d79_image_resize" -> (d79ImageResize _),
    "d80_image_clusters" -> (d80ImageClusters _),
    "d81_image_keep_best" -> (d81ImageKeepBest _),
    "d82_audio_dedup" -> (d82AudioDedup _),
    "d83_image_dedup_incremental" -> (d83ImageDedupIncremental _),
    "d84_png_dedup" -> (d84PngDedup _),
    "d85_video_dedup" -> (d85VideoDedup _),
    "d86_cross_format_dedup" -> (d86CrossFormatDedup _),
    "d87_gif_dedup" -> (d87GifDedup _),
    "d88_media_embed_dedup" -> (d88MediaEmbedDedup _),
    "d89_media_embed_dedup_lsh" -> (d89MediaEmbedDedupLsh _),
    "d90_media_pipeline_e2e" -> (d90MediaPipelineE2e _),
    "d91_domain_cap" -> (d91DomainCap _),
    "d92_url_dedup" -> (d92UrlDedup _),
    "d93_url_pipeline_e2e" -> (d93UrlPipelineE2e _),
    "d94_av_pipeline_e2e" -> (d94AvPipelineE2e _),
    "d95_frontier_discovery" -> (d95FrontierDiscovery _),
    "d96_crawl_ingest_e2e" -> (d96CrawlIngestE2e _),
    "d97_fetch_plan" -> (d97FetchPlan _),
    "d98_frontier_sources" -> (d98FrontierSources _),
    "d99_warc_pipeline_e2e" -> (d99WarcPipelineE2e _),
    "d100_gated_frontier_plan" -> (d100GatedFrontierPlan _),
    "c10_media_dedup_card" -> (c10MediaDedupCard _),
    // d39 composes d27's k-means (iterative fixpoint — no oracle) with the
    // within-cluster drop pass; rows-only + PipelineOpsSpec pins.
    "d39_semdedup"         -> (d39SemDedup _),
    "d15_stratified_split" -> (d15StratifiedSplit _),
    "d16_tfidf"            -> (d16Tfidf _),
    "d1_dedup_minhash_lsh" -> (d1DedupMinhashLsh _),
    "d2_dedup_simhash"     -> (d2DedupSimhash _),
    "d3_knn_join"          -> (d3KnnJoin _),
    "d4_ann_lsh"           -> (d4AnnLsh _),
    "d13_ann_topk"         -> (d13AnnTopk _),
    "d11_ann_ivf"          -> (d11AnnIvf _),
    "d9_dedup_embedding"   -> (d9DedupEmbedding _),
    "d10_dedup_embedding_lsh" -> (d10DedupEmbeddingLsh _),
    "d5_lang_id"           -> (d5LangId _),
    "d6_quality_score"     -> (d6QualityScore _),
    "d7_token_count"       -> (d7TokenCount _),
    "d8_fingerprint"       -> (d8Fingerprint _),
  )

  private val tokSql = GroupC.tokenizeSql("text")

  /** d58's oracle CTE chain up through the per-doc `lm` scores — shared
    * verbatim by the d58 and d61 oracles so the two can never drift
    * (pipelineCtes' discipline).
    */
  private lazy val lmCtes: String =
    s"""WITH toks AS (
       |  SELECT doc_id, lang, source, $tokSql AS ts FROM documents),
       |occ AS (
       |  SELECT doc_id, lang, source, ts[i] AS w1, ts[i+1] AS w2
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
       |  WHERE len(ts) >= 2),
       |refbi AS (
       |  SELECT lang, w1, w2, count(*) AS c2 FROM occ
       |  WHERE source = 'src0' GROUP BY 1, 2, 3),
       |refuni AS (
       |  SELECT lang, w1, count(*) AS c1 FROM occ
       |  WHERE source = 'src0' GROUP BY 1, 2),
       |refv AS (
       |  SELECT lang, count(DISTINCT w2) AS v FROM occ
       |  WHERE source = 'src0' GROUP BY 1),
       |scored AS (
       |  SELECT o.doc_id, o.lang,
       |    CAST((CAST(coalesce(b.c2, 0) + 1 AS HUGEINT) * 1000000)
       |      // (coalesce(u.c1, 0) + v.v) AS BIGINT) AS p_fp
       |  FROM occ o
       |  JOIN refv v ON v.lang = o.lang
       |  LEFT JOIN refbi b
       |    ON b.lang = o.lang AND b.w1 = o.w1 AND b.w2 = o.w2
       |  LEFT JOIN refuni u ON u.lang = o.lang AND u.w1 = o.w1),
       |lm AS (
       |  SELECT doc_id, lang, count(*) AS n_bigrams,
       |    CAST(sum(p_fp) // count(*) AS BIGINT) AS lm_score_fp
       |  FROM scored GROUP BY 1, 2)""".stripMargin

  /** d22's oracle CTE chain up through `capped` — shared verbatim by the
    * pipeline oracle and d56's funnel oracle so the two can never drift.
    */
  private lazy val pipelineCtes: String =
    s"""WITH RECURSIVE toks AS (
       |  SELECT doc_id, $tokSql AS ts FROM documents),
       |shl AS (
       |  SELECT doc_id,
       |    list_transform(range(1, len(ts) - 1),
       |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS s
       |  FROM toks WHERE len(ts) >= 3),
       |rep AS (
       |  SELECT doc_id,
       |    floor((len(s) - len(list_distinct(s))) * 10000
       |      / CAST(len(s) AS DOUBLE)) >= 1000 AS repetitive
       |  FROM shl),
       |sh AS (SELECT doc_id, unnest(list_distinct(s)) AS shingle FROM shl),
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |common AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
       |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2),
       |gate AS (SELECT doc_id FROM rep WHERE NOT repetitive),
       |pairs AS (
       |  SELECT doc_a, doc_b FROM common
       |  JOIN sizes sa ON sa.doc_id = doc_a
       |  JOIN sizes sb ON sb.doc_id = doc_b
       |  JOIN gate ga ON ga.doc_id = doc_a
       |  JOIN gate gb ON gb.doc_id = doc_b
       |  WHERE CAST(c AS DOUBLE) / CAST(sa.n + sb.n - c AS DOUBLE) >= 0.6),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL SELECT doc_b AS s, doc_a AS d FROM pairs),
       |verts AS (SELECT DISTINCT s AS doc_id FROM edges),
       |reach AS (
       |  SELECT doc_id, doc_id AS root FROM verts
       |  UNION
       |  SELECT e.d AS doc_id, r.root FROM reach r JOIN edges e ON e.s = r.doc_id),
       |comp AS (SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id),
       |dupdrop AS (SELECT doc_id FROM comp WHERE cluster_id <> doc_id),
       |kept AS (
       |  SELECT d.doc_id, d.lang, d.source
       |  FROM documents d JOIN rep USING (doc_id)
       |  WHERE NOT rep.repetitive
       |    AND d.doc_id NOT IN (SELECT doc_id FROM dupdrop)),
       |capped AS (
       |  SELECT * FROM (
       |    SELECT doc_id, lang, source,
       |      ROW_NUMBER() OVER (PARTITION BY lang, source
       |        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
       |    FROM kept) t
       |  WHERE rk <= 5)""".stripMargin

  private val d15OracleSql: String =
    """WITH ranked AS (
      |  SELECT doc_id, lang,
      |    ROW_NUMBER() OVER (PARTITION BY lang
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
      |    COUNT(*) OVER (PARTITION BY lang) AS n
      |  FROM documents)
      |SELECT doc_id, lang,
      |  CASE WHEN rn <= (n * 8) // 10 THEN 'train'
      |       WHEN rn <= (n * 9) // 10 THEN 'val'
      |       ELSE 'test' END AS split
      |FROM ranked
      |ORDER BY doc_id""".stripMargin

  /** d78's pair oracle, shared with d80's component labeling (the
    * d14-over-c2 nesting pattern): Hamming ≤ 3 over the arithmetically
    * re-derived 64-bit patterns.
    */
  /** One modality's bits + verified-pairs CTE pair for the c10 oracle —
    * the same doc_id arithmetic each dedup query's own oracle states
    * inline, parameterized by the modality's mixer constants so the five
    * corpora stay in lockstep with their queries.
    */
  private def modalityPairCtes(tag: String, fam: Long, mult: Long,
      kMult: Long, add: Long, window: Long, widthMod: Long): String =
    s"""b$tag AS (
       |  SELECT doc_id, k,
       |    (((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
       |       // 1024 % 2
       |     + CASE WHEN k >= doc_id % $window
       |             AND k < doc_id % $window + doc_id % $widthMod
       |            THEN 1 ELSE 0 END) % 2 AS b
       |  FROM (SELECT doc_id, k,
       |          ((doc_id // $fam) * $mult + k * $kMult + $add)
       |            % 1000000007 AS x
       |        FROM d, range(64) t(k))),
       |p$tag AS (
       |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b
       |  FROM b$tag a JOIN b$tag c ON a.k = c.k AND a.doc_id < c.doc_id
       |  GROUP BY 1, 2
       |  HAVING SUM(CASE WHEN a.b <> c.b THEN 1 ELSE 0 END) <= 3)""".stripMargin

  private val c10OracleSql: String = {
    def volumeRow(fmt: String, p: String, cross: Boolean, bmp: Boolean) = {
      val crossCol = if (cross)
        s"(SELECT COUNT(*) FROM $p WHERE doc_a % 2 <> doc_b % 2)::BIGINT"
      else "NULL::BIGINT"
      val (nc, mc) = if (bmp)
        ("(SELECT COUNT(*) FROM sizes)::BIGINT", "(SELECT MAX(sz) FROM sizes)::BIGINT")
      else ("NULL::BIGINT", "NULL::BIGINT")
      s"""SELECT '$fmt' AS media_format,
         |  (SELECT COUNT(*) FROM $p)::BIGINT AS n_pairs,
         |  (SELECT COUNT(*) FROM
         |    (SELECT doc_a FROM $p UNION SELECT doc_b FROM $p))::BIGINT
         |    AS n_dup_docs,
         |  $crossCol AS n_cross_format_pairs,
         |  $nc AS n_clusters,
         |  $mc AS max_cluster""".stripMargin
    }
    s"""WITH RECURSIVE d AS (
       |  SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
       |${modalityPairCtes("bmp", 4, 1000003, 7919, 12345, 61, 4)},
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS dd FROM pbmp
       |  UNION ALL SELECT doc_b AS s, doc_a AS dd FROM pbmp),
       |verts AS (SELECT DISTINCT s AS doc_id FROM edges),
       |reach AS (
       |  SELECT doc_id, doc_id AS root FROM verts
       |  UNION
       |  SELECT e.dd AS doc_id, r.root
       |  FROM reach r JOIN edges e ON e.s = r.doc_id),
       |comp AS (
       |  SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id),
       |sizes AS (
       |  SELECT cluster_id, COUNT(*) AS sz FROM comp GROUP BY cluster_id),
       |${modalityPairCtes("png", 6, 1000033, 7489, 13579, 57, 5)},
       |${modalityPairCtes("gif", 8, 1000121, 7723, 97531, 47, 4)},
       |${modalityPairCtes("wav", 5, 999983, 8263, 54321, 59, 4)},
       |${modalityPairCtes("y4m", 7, 999979, 9001, 11213, 53, 4)},
       |${modalityPairCtes("x", 4, 1000099, 7591, 24680, 51, 4)}
       |SELECT * FROM (
       |${volumeRow("audio_wav", "pwav", cross = false, bmp = false)}
       |UNION ALL
       |${volumeRow("image_bmp", "pbmp", cross = false, bmp = true)}
       |UNION ALL
       |${volumeRow("image_gif", "pgif", cross = false, bmp = false)}
       |UNION ALL
       |${volumeRow("image_mixed", "px", cross = true, bmp = false)}
       |UNION ALL
       |${volumeRow("image_png", "ppng", cross = false, bmp = false)}
       |UNION ALL
       |${volumeRow("video_y4m", "py4m", cross = false, bmp = false)})
       |ORDER BY media_format""".stripMargin
  }

  private val d78PairOracleSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
      |bits AS (
      |  SELECT doc_id, k,
      |    (((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
      |       // 1024 % 2
      |     + CASE WHEN k >= doc_id % 61 AND k < doc_id % 61 + doc_id % 4
      |            THEN 1 ELSE 0 END) % 2 AS b
      |  FROM (SELECT doc_id, k,
      |          ((doc_id // 4) * 1000003 + k * 7919 + 12345)
      |            % 1000000007 AS x
      |        FROM d, range(64) t(k))),
      |h AS (
      |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |         SUM(CASE WHEN a.b <> c.b THEN 1 ELSE 0 END)::BIGINT
      |           AS hamming
      |  FROM bits a JOIN bits c ON a.k = c.k AND a.doc_id < c.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** d82/d85's pair oracles as shared vals (r19 — d94's funnel nests
    * them as CTEs the way d90 nests d78's). */
  private val d82PairOracleSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
      |bits AS (
      |  SELECT doc_id, k,
      |    (((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
      |       // 1024 % 2
      |     + CASE WHEN k >= doc_id % 59 AND k < doc_id % 59 + doc_id % 4
      |            THEN 1 ELSE 0 END) % 2 AS b
      |  FROM (SELECT doc_id, k,
      |          ((doc_id // 5) * 999983 + k * 8263 + 54321)
      |            % 1000000007 AS x
      |        FROM d, range(64) t(k))),
      |h AS (
      |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |         SUM(CASE WHEN a.b <> c.b THEN 1 ELSE 0 END)::BIGINT
      |           AS hamming
      |  FROM bits a JOIN bits c ON a.k = c.k AND a.doc_id < c.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  private val d85PairOracleSql: String =
    """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
      |bits AS (
      |  SELECT doc_id, k,
      |    (((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
      |       // 1024 % 2
      |     + CASE WHEN k >= doc_id % 53 AND k < doc_id % 53 + doc_id % 4
      |            THEN 1 ELSE 0 END) % 2 AS b
      |  FROM (SELECT doc_id, k,
      |          ((doc_id // 7) * 999979 + k * 9001 + 11213)
      |            % 1000000007 AS x
      |        FROM d, range(64) t(k))),
      |h AS (
      |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
      |         SUM(CASE WHEN a.b <> c.b THEN 1 ELSE 0 END)::BIGINT
      |           AS hamming
      |  FROM bits a JOIN bits c ON a.k = c.k AND a.doc_id < c.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3
      |ORDER BY doc_a, doc_b""".stripMargin

  /** One modality's half of d94's oracle: the component labeling +
    * count CTEs over a nested pair oracle, every relation prefixed so
    * the two modalities coexist in one WITH RECURSIVE. */
  private def d94ModalityCtes(p: String, pairSql: String): String =
    s"""${p}pairs AS (
       |$pairSql),
       |${p}edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM ${p}pairs
       |  UNION ALL
       |  SELECT doc_b AS s, doc_a AS d FROM ${p}pairs),
       |${p}verts AS (SELECT DISTINCT s AS doc_id FROM ${p}edges),
       |${p}reach AS (
       |  SELECT doc_id, doc_id AS root FROM ${p}verts
       |  UNION
       |  SELECT e.d AS doc_id, r.root
       |  FROM ${p}reach r JOIN ${p}edges e ON e.s = r.doc_id),
       |${p}comp AS (
       |  SELECT doc_id, MIN(root) AS cluster_id FROM ${p}reach
       |  GROUP BY doc_id),
       |${p}sizes AS (
       |  SELECT cluster_id, COUNT(*)::BIGINT AS n
       |  FROM ${p}comp GROUP BY cluster_id),
       |${p}m AS (SELECT
       |  (SELECT COUNT(*) FROM documents)::BIGINT AS n_docs,
       |  (SELECT COUNT(*) FROM documents
       |   WHERE doc_id % 17 <> 0)::BIGINT AS n_dec,
       |  (SELECT COUNT(*) FROM ${p}pairs)::BIGINT AS n_pairs,
       |  (SELECT COUNT(*) FROM ${p}sizes)::BIGINT AS n_clusters,
       |  (SELECT MAX(n) FROM ${p}sizes)::BIGINT AS max_cluster,
       |  (SELECT COUNT(*) FROM ${p}comp)::BIGINT AS n_clustered)"""
      .stripMargin

  private def d94ModalityRows(tag: String, p: String): String =
    s"""  SELECT '$tag' AS modality, '1_decode' AS stage,
       |    n_docs AS docs_in, n_dec AS docs_out,
       |    CAST(NULL AS BIGINT) AS n_pairs,
       |    CAST(NULL AS BIGINT) AS n_clusters,
       |    CAST(NULL AS BIGINT) AS max_cluster FROM ${p}m
       |  UNION ALL SELECT '$tag', '2_pairs', n_dec, n_dec, n_pairs,
       |    NULL, NULL FROM ${p}m
       |  UNION ALL SELECT '$tag', '3_clusters', n_dec, n_dec, NULL,
       |    n_clusters, max_cluster FROM ${p}m
       |  UNION ALL SELECT '$tag', '4_keep_best', n_dec,
       |    n_dec - n_clustered + n_clusters, NULL, NULL, NULL FROM ${p}m"""
      .stripMargin

  private val d14OracleSql: String = {
    val pairSql = GroupC.oracleSql("c2_dedup_near")
    s"""WITH RECURSIVE pairs AS (
       |$pairSql),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS s, doc_a AS d FROM pairs),
       |verts AS (SELECT DISTINCT s AS doc_id FROM edges),
       |reach AS (
       |  SELECT doc_id, doc_id AS root FROM verts
       |  UNION
       |  SELECT e.d AS doc_id, r.root FROM reach r JOIN edges e ON e.s = r.doc_id),
       |comp AS (SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id),
       |sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
       |SELECT c.doc_id, c.cluster_id, s.cluster_size
       |FROM comp c JOIN sizes s USING (cluster_id)
       |ORDER BY doc_id""".stripMargin
  }

  private val d19OracleSql: String =
    s"""WITH toks AS (
       |  SELECT doc_id, $tokSql AS ts FROM documents),
       |sh AS (
       |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
       |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i)
       |  WHERE len(ts) >= 3),
       |bench AS (
       |  SELECT DISTINCT shingle FROM sh JOIN documents USING (doc_id)
       |  WHERE source = 'src0'),
       |shared AS (
       |  SELECT s.doc_id, COUNT(*) AS n_shared
       |  FROM sh s JOIN bench b USING (shingle)
       |  JOIN documents d ON d.doc_id = s.doc_id AND d.source <> 'src0'
       |  GROUP BY s.doc_id)
       |SELECT d.doc_id, d.lang, d.source,
       |  COALESCE(n.n_shared, 0) AS n_shared,
       |  COALESCE(n.n_shared, 0) > 0 AS contaminated
       |FROM documents d LEFT JOIN shared n ON d.doc_id = n.doc_id
       |WHERE d.source <> 'src0'
       |ORDER BY d.doc_id""".stripMargin

  /** The CDC chunk-construction CTE block (lens → pos → cuts → starts →
    * ch), shared VERBATIM by the d74 and d75 oracles — on the Spark side
    * d75 consumes d74's plan, so the SQL must share one definition too
    * or a boundary-rule change could silently leave the two oracles on
    * different chunkings (review finding, round 13; lmCtes' discipline).
    */
  private lazy val cdcChunkCtes: String =
    """WITH lens AS (
      |  SELECT doc_id, text, length(text)::BIGINT AS n FROM documents),
      |pos AS (
      |  SELECT doc_id, text, n, unnest(range(1, n - 6)) AS i
      |  FROM lens WHERE n >= 8),
      |cuts AS (
      |  SELECT doc_id, i + 7 AS c FROM pos
      |  WHERE ('0x' || substr(md5(substr(text, i::INTEGER, 8)), 1, 4))::BIGINT
      |          % 29 = 0
      |    AND i + 7 < n),
      |starts AS (
      |  SELECT doc_id, 1::BIGINT AS s FROM lens
      |  UNION ALL
      |  SELECT doc_id, c + 1 AS s FROM cuts),
      |ch AS (
      |  SELECT s.doc_id, s.s,
      |    COALESCE(lead(s.s) OVER (PARTITION BY s.doc_id ORDER BY s.s) - 1,
      |      l.n) AS e,
      |    l.text
      |  FROM starts s JOIN lens l USING (doc_id))""".stripMargin

  /** d5's oracle SELECT (no ORDER BY) — shared by the d5 oracle and
    * d76's confusion-matrix oracle so the predictor SQL can never drift
    * between them (lmCtes' discipline).
    */
  private lazy val langIdSelectSql: String =
    s"""WITH toks AS (
         |  SELECT doc_id, unnest($tokSql) AS token FROM documents),
         |hits AS (
         |  SELECT doc_id,
         |${langLists.map { case (l, ws) =>
             s"    sum(CASE WHEN token IN ${sqlInList(ws)} THEN 1 ELSE 0 END)::BIGINT AS ${l}_hits" }
           .mkString(",\n")}
         |  FROM toks GROUP BY doc_id)
         |SELECT d.doc_id,
         |${langLists.map { case (l, _) =>
             s"  COALESCE(${l}_hits, 0)::BIGINT AS ${l}_hits" }.mkString(",\n")},
         |  CASE
         |    WHEN COALESCE(en_hits,0) > 0 AND COALESCE(en_hits,0) >= COALESCE(es_hits,0) AND COALESCE(en_hits,0) >= COALESCE(fr_hits,0) AND COALESCE(en_hits,0) >= COALESCE(de_hits,0) THEN 'en'
         |    WHEN COALESCE(es_hits,0) > 0 AND COALESCE(es_hits,0) >= COALESCE(fr_hits,0) AND COALESCE(es_hits,0) >= COALESCE(de_hits,0) THEN 'es'
         |    WHEN COALESCE(fr_hits,0) > 0 AND COALESCE(fr_hits,0) >= COALESCE(de_hits,0) THEN 'fr'
         |    WHEN COALESCE(de_hits,0) > 0 THEN 'de'
         |    ELSE 'und' END AS pred_lang
         |FROM documents d LEFT JOIN hits ON d.doc_id = hits.doc_id""".stripMargin

  private val d88OracleSql: String =
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
        |bits AS (
        |  SELECT doc_id, k,
        |    ((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
        |      // 1024 % 2 AS b
        |  FROM (SELECT doc_id, k,
        |          ((doc_id // 4) * 1000151 + k * 7841 + 86420)
        |            % 1000000007 AS x
        |        FROM d, range(64) t(k))),
        |cells AS (
        |  SELECT g.doc_id, g.r, g.c,
        |    128 + CASE WHEN g.r = g.doc_id % 8
        |               THEN g.doc_id % 3 - 1 ELSE 0 END
        |        + COALESCE(SUM(CASE WHEN bb.b = 1 THEN -10 ELSE 10 END), 0)
        |      AS v
        |  FROM (SELECT doc_id, r, c
        |        FROM d, range(8) rr(r), range(9) cc(c)) g
        |  LEFT JOIN bits bb
        |    ON bb.doc_id = g.doc_id AND bb.k >= g.r * 8
        |   AND bb.k < g.r * 8 + g.c
        |  GROUP BY 1, 2, 3),
        |feat AS (
        |  SELECT doc_id,
        |    CAST(list(v * 72 - tot ORDER BY r, c) AS DOUBLE[]) AS f
        |  FROM (SELECT doc_id, r, c, v,
        |          SUM(v) OVER (PARTITION BY doc_id) AS tot FROM cells)
        |  GROUP BY doc_id)
        |SELECT d0.doc_id FROM documents d0
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM feat e JOIN feat p ON p.doc_id < e.doc_id
        |  WHERE e.doc_id = d0.doc_id
        |    AND list_cosine_similarity(p.f, e.f) >= 0.95)
        |ORDER BY d0.doc_id""".stripMargin

  val oracleSql: Map[String, String] = {
    val m = Map(
    // body shared with c12's markup-cleaned composition — one SQL text,
    // parameterized by source (see GroupC.gopherOracleSql's init note)
    "d69_gopher_rules" -> GroupC.gopherOracleSql("", "documents"),
    "d70_zipf_fit" ->
      s"""WITH occ AS (
         |  SELECT lang, unnest($tokSql) AS token FROM documents),
         |freq AS (
         |  SELECT lang, token, count(*)::BIGINT AS freq FROM occ
         |  WHERE token <> '' GROUP BY 1, 2),
         |ranked AS (
         |  SELECT lang, freq, row_number() OVER (
         |    PARTITION BY lang ORDER BY freq DESC, token) AS rank
         |  FROM freq),
         |sums AS (
         |  SELECT lang, count(*)::BIGINT AS n_types,
         |    CAST(sum(freq) AS BIGINT) AS n_tokens,
         |    CAST(sum(CAST(ln(freq) * ln(rank) AS DECIMAL(30,15))) AS DOUBLE)
         |      AS sxy,
         |    CAST(sum(CAST(ln(rank) AS DECIMAL(30,15))) AS DOUBLE) AS sx,
         |    CAST(sum(CAST(ln(freq) AS DECIMAL(30,15))) AS DOUBLE) AS sy,
         |    CAST(sum(CAST(ln(rank) * ln(rank) AS DECIMAL(30,15))) AS DOUBLE)
         |      AS sxx
         |  FROM ranked GROUP BY lang)
         |SELECT lang, n_types, n_tokens,
         |  round((n_types * sxy - sx * sy) / (n_types * sxx - sx * sx), 4)
         |    AS zipf_slope
         |FROM sums ORDER BY lang""".stripMargin,
    "d71_doc_entropy" ->
      s"""WITH occ AS (
         |  SELECT doc_id, unnest($tokSql) AS token FROM documents),
         |cnt AS (
         |  SELECT doc_id, token, count(*)::BIGINT AS c FROM occ
         |  WHERE token <> '' GROUP BY 1, 2),
         |agg AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
         |    count(*)::BIGINT AS n_types,
         |    CAST(sum(CAST(c * ln(c) AS DECIMAL(30,15))) AS DOUBLE) AS clnc
         |  FROM cnt GROUP BY 1)
         |SELECT doc_id, n_toks, n_types,
         |  round((ln(n_toks) - clnc / n_toks) / ln(2), 4) AS entropy_bits,
         |  (round((ln(n_toks) - clnc / n_toks) / ln(2), 4) < 3.0)
         |    AS low_entropy
         |FROM agg
         |ORDER BY doc_id""".stripMargin,
    "d77_remove_shared_chunks" ->
      s"""$cdcChunkCtes,
        |chunks AS (
        |  SELECT doc_id,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY s)::BIGINT
        |      AS chunk_idx,
        |    (e - s + 1)::BIGINT AS chunk_len,
        |    substr(text, s::INTEGER, (e - s + 1)::INTEGER) AS piece,
        |    md5(substr(text, s::INTEGER, (e - s + 1)::INTEGER)) AS chunk_md5
        |  FROM ch),
        |shared_keys AS (
        |  SELECT chunk_md5 FROM chunks WHERE chunk_len >= 16
        |  GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2),
        |fl AS (
        |  SELECT c.*, (k.chunk_md5 IS NOT NULL AND c.chunk_len >= 16)
        |    AS shared
        |  FROM chunks c LEFT JOIN shared_keys k USING (chunk_md5))
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN NOT shared THEN 1 ELSE 0 END) AS BIGINT)
        |    AS kept_chunks,
        |  CAST(sum(CASE WHEN NOT shared THEN chunk_len ELSE 0 END) AS BIGINT)
        |    AS kept_chars,
        |  CAST(sum(CASE WHEN shared THEN 1 ELSE 0 END) AS BIGINT)
        |    AS removed_chunks,
        |  CAST(sum(CASE WHEN shared THEN chunk_len ELSE 0 END) AS BIGINT)
        |    AS removed_chars,
        |  md5(COALESCE(string_agg(CASE WHEN NOT shared THEN piece END, ''
        |    ORDER BY chunk_idx), '')) AS cleaned_md5
        |FROM fl GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d78_image_dedup" -> d78PairOracleSql,
    // d88: the oracle re-derives the 72 grid-luma cells from the SAME
    // doc_id arithmetic the construction uses (prefix-sum walk over the
    // family base bits + the one-row shift), centers by the ×72 trick,
    // and applies the keep-earliest NOT-EXISTS cosine rule — it never
    // sees bytes. All accumulator inputs are exact integers, so
    // list_cosine_similarity and the native expression produce
    // bit-equal doubles and the ≥ τ comparisons cannot straddle.
    "d88_media_embed_dedup" -> d88OracleSql,
    // d89 = the SAME contract through the banded production path; the
    // shared oracle is justified by the spec-pinned measured-exact
    // equivalence (recall 1.0, zero spurious drops — verification is
    // exact cosine both sides), precisely d10's relationship to d9
    "d89_media_embed_dedup_lsh" -> d88OracleSql,
    // d91's oracle shares c13's construction + normalization CTE chain
    // (the same Scala pattern constants compile the Spark kernel), then
    // ranks inside each domain with the identical total order.
    "d91_domain_cap" ->
      s"""WITH ${GroupC.c13NormCtes(", n_chars")}
         |SELECT domain, doc_id, n_chars, rank FROM (
         |  SELECT domain, doc_id, n_chars,
         |    ROW_NUMBER() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id) AS rank
         |  FROM n) t
         |WHERE rank <= 3 ORDER BY domain, rank""".stripMargin,
    // d92's oracle: the same normalized frame grouped by canonical URL.
    "d92_url_dedup" ->
      s"""WITH ${GroupC.d92NormCtes}
         |SELECT norm_url, MIN(doc_id) AS keep_id,
         |  COUNT(*)::BIGINT AS n_raw
         |FROM n GROUP BY norm_url ORDER BY norm_url""".stripMargin,
    // d93's oracle: the same collision-corpus CTE chain (n_chars carried
    // through for the cap stage), then d92's keeper rule and d91's cap
    // rule re-derived as window subqueries, and the 3 funnel rows
    // assembled from scalar counts — every stage count re-computed from
    // the shared chain, never trusted from the engine under test.
    "d93_url_pipeline_e2e" ->
      s"""WITH ${GroupC.d92NormCtesCarry(", n_chars")},
         |k AS (SELECT doc_id, n_chars, norm_url, domain FROM (
         |  SELECT doc_id, n_chars, norm_url, domain,
         |    ROW_NUMBER() OVER (PARTITION BY norm_url ORDER BY doc_id)
         |      AS rn
         |  FROM n WHERE norm_url IS NOT NULL) t WHERE rn = 1),
         |c AS (SELECT doc_id FROM (
         |  SELECT doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY domain
         |      ORDER BY n_chars DESC, doc_id) AS rank
         |  FROM k WHERE domain IS NOT NULL) t WHERE rank <= 3),
         |m AS (SELECT
         |  (SELECT COUNT(*) FROM documents) AS n_docs,
         |  (SELECT COUNT(norm_url) FROM n) AS n_norm,
         |  (SELECT COUNT(*) FROM k) AS n_kept,
         |  (SELECT COUNT(*) FROM c) AS n_capped)
         |SELECT stage, docs_in, docs_out, docs_in - docs_out AS dropped
         |FROM (
         |  SELECT '1_normalize' AS stage, n_docs AS docs_in,
         |    n_norm AS docs_out FROM m
         |  UNION ALL SELECT '2_url_dedup', n_norm, n_kept FROM m
         |  UNION ALL SELECT '3_domain_cap', n_kept, n_capped FROM m) s
         |ORDER BY stage""".stripMargin,
    // d95's oracle: the c15 page (c14's anchors + the self-link) through
    // the SAME extraction + normalization chain (outlink side), the
    // corpus's own URLs through the SAME chain again (c-prefixed CTE
    // names), NOT EXISTS as the frontier diff, and urlDomain's full
    // rule (refusal CASE + NULLIF, shared constants) for the census key.
    "d95_frontier_discovery" ->
      s"""WITH $frontierOracleCtes
         |SELECT domain, COUNT(*)::BIGINT AS n_new_urls,
         |  MIN(norm_url) AS first_url
         |FROM g GROUP BY domain ORDER BY domain""".stripMargin,
    // d97's oracle: the SHARED frontier CTE chain, then every robots
    // decision re-derived ARITHMETICALLY from the domain's embedded key
    // (the c15 discipline — the oracle never parses robots text; the
    // hash gate verifies the host-grouped Spark evaluation), then the
    // cap + running-delay windows.
    "d97_fetch_plan" ->
      s"""WITH $frontierOracleCtes,
         |$fetchPlanOracleTail""".stripMargin,
    // d100: the gated-cycle oracle — the frontier chain REBUILT from
    // gopher survivors only (markup chain → the nested gopher oracle →
    // keeper-filtered link extraction → the shared normalization CTEs →
    // NOT-EXISTS diff), then the SHARED fetch-plan tail verbatim; every
    // robots decision still re-derived arithmetically, nothing parsed.
    "d100_gated_frontier_plan" ->
      s"""WITH fh AS (SELECT doc_id,
         |  ${GroupC.partsHtmlSql(GroupC.frontierParts)} AS html
         |  FROM documents),
         |fc AS (SELECT doc_id, html,
         |  ${GroupC.markupCleanSql("html")} AS text FROM fh),
         |g0 AS (${GroupC.gopherOracleSql("", "fc")}),
         |fk AS (SELECT doc_id FROM g0 WHERE keep),
         |fl AS (SELECT fc.doc_id, html FROM fc JOIN fk USING (doc_id)),
         |${frontierDiffCtesFrom("fl")},
         |$fetchPlanOracleTail""".stripMargin,
    // d98: the outlink chain (d95's shared CTEs, relation g) next to the
    // sitemap-news chain (c17's shared CTEs, "s"-prefixed — the two
    // constructed news per domain, re-derived arithmetically, never
    // parsed), unioned with provenance and censused per domain.
    "d98_frontier_sources" ->
      s"""WITH $frontierOracleCtes,
         |${GroupC.c17NewCtes("s")},
         |uu AS (SELECT domain, norm_url, 'outlink' AS source FROM g
         |    WHERE domain IS NOT NULL
         |  UNION ALL
         |  SELECT domain, norm_url, 'sitemap' AS source FROM ssm)
         |SELECT domain,
         |  COUNT(DISTINCT CASE WHEN source = 'outlink' THEN norm_url END)
         |    AS n_outlink,
         |  COUNT(DISTINCT CASE WHEN source = 'sitemap' THEN norm_url END)
         |    AS n_sitemap,
         |  COUNT(DISTINCT norm_url) AS n_total,
         |  MIN(norm_url) AS first_url
         |FROM uu GROUP BY domain ORDER BY domain""".stripMargin,
    // d96's oracle: the SHARED bodies end to end — the c11 page +
    // markup chain, the d92 collision corpus through the c13 CTE chain
    // with the keeper rule, the gopher oracle (its own WITH, nested as
    // a CTE subquery over the keepers' cleaned text — the c12
    // parameterization), md5 keep-min, and the 4 funnel rows from
    // scalar counts. Every stage re-derived, nothing trusted from the
    // engine under test. SHARED VERBATIM by d99 (the d89-shares-d88
    // measured-equivalence discipline): the WARC construct+walk is
    // lossless on (payload, uri) by construction, so d99's funnel must
    // hash-equal d96's — any framing slip in the walk breaks it.
    "d96_crawl_ingest_e2e" ->
      s"""WITH h AS (SELECT doc_id,
         |  ${GroupC.partsHtmlSql(GroupC.c11Parts)} AS html FROM documents),
         |c AS (SELECT doc_id,
         |  ${GroupC.markupCleanSql("html")} AS text FROM h),
         |${GroupC.d92NormCtes},
         |k AS (SELECT doc_id FROM (
         |  SELECT n.doc_id,
         |    ROW_NUMBER() OVER (PARTITION BY norm_url ORDER BY n.doc_id)
         |      AS rn
         |  FROM n JOIN c USING (doc_id)
         |  WHERE norm_url IS NOT NULL AND c.text <> '') t WHERE rn = 1),
         |ck AS (SELECT c.doc_id, c.text FROM c JOIN k USING (doc_id)),
         |g AS (${GroupC.gopherOracleSql("", "ck")}),
         |gk AS (SELECT doc_id FROM g WHERE keep),
         |e AS (SELECT ck.doc_id, md5(ck.text) AS sig
         |  FROM ck JOIN gk USING (doc_id)),
         |ek AS (SELECT sig, MIN(doc_id) AS keep_id FROM e GROUP BY sig),
         |m2 AS (SELECT
         |  (SELECT COUNT(*) FROM documents)::BIGINT AS n_docs,
         |  (SELECT COUNT(CASE WHEN text <> '' THEN 1 END) FROM c)::BIGINT
         |    AS n_clean,
         |  (SELECT COUNT(*) FROM k)::BIGINT AS n_urls,
         |  (SELECT COUNT(*) FROM gk)::BIGINT AS n_gopher,
         |  (SELECT COUNT(*) FROM ek)::BIGINT AS n_unique)
         |SELECT stage, docs_in, docs_out, docs_in - docs_out AS dropped
         |FROM (
         |  SELECT '1_markup_extract' AS stage, n_docs AS docs_in,
         |    n_clean AS docs_out FROM m2
         |  UNION ALL SELECT '2_url_dedup', n_clean, n_urls FROM m2
         |  UNION ALL SELECT '3_gopher_gate', n_urls, n_gopher FROM m2
         |  UNION ALL SELECT '4_exact_dedup', n_gopher, n_unique FROM m2) s
         |ORDER BY stage""".stripMargin,
    // d90's oracle re-derives every stage count from the same CTE chain
    // the d80/d81 oracles use (pairs arithmetically from doc_id, the
    // recursive-reach components), plus the decode count from the junk
    // rule — the constructed-bytes discipline end to end. The keep-best
    // survivor count equals n_clusters (ROW_NUMBER = 1 per cluster).
    "d90_media_pipeline_e2e" ->
      s"""WITH RECURSIVE pairs AS (
         |$d78PairOracleSql),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS d FROM pairs),
         |verts AS (SELECT DISTINCT s AS doc_id FROM edges),
         |reach AS (
         |  SELECT doc_id, doc_id AS root FROM verts
         |  UNION
         |  SELECT e.d AS doc_id, r.root
         |  FROM reach r JOIN edges e ON e.s = r.doc_id),
         |comp AS (
         |  SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id),
         |sizes AS (
         |  SELECT cluster_id, COUNT(*)::BIGINT AS n
         |  FROM comp GROUP BY cluster_id),
         |m AS (SELECT
         |  (SELECT COUNT(*) FROM documents)::BIGINT AS n_docs,
         |  (SELECT COUNT(*) FROM documents
         |   WHERE doc_id % 17 <> 0)::BIGINT AS n_dec,
         |  (SELECT COUNT(*) FROM pairs)::BIGINT AS n_pairs,
         |  (SELECT COUNT(*) FROM sizes)::BIGINT AS n_clusters,
         |  (SELECT MAX(n) FROM sizes)::BIGINT AS max_cluster,
         |  (SELECT COUNT(*) FROM comp)::BIGINT AS n_clustered)
         |SELECT stage, docs_in, docs_out, n_pairs, n_clusters, max_cluster,
         |  docs_in - docs_out AS dropped
         |FROM (
         |  SELECT '1_decode' AS stage, n_docs AS docs_in, n_dec AS docs_out,
         |    CAST(NULL AS BIGINT) AS n_pairs,
         |    CAST(NULL AS BIGINT) AS n_clusters,
         |    CAST(NULL AS BIGINT) AS max_cluster FROM m
         |  UNION ALL SELECT '2_pairs', n_dec, n_dec, n_pairs, NULL, NULL
         |    FROM m
         |  UNION ALL SELECT '3_clusters', n_dec, n_dec, NULL, n_clusters,
         |    max_cluster FROM m
         |  UNION ALL SELECT '4_keep_best', n_dec,
         |    n_dec - n_clustered + n_clusters, NULL, NULL, NULL FROM m)
         |ORDER BY stage""".stripMargin,
    "d80_image_clusters" ->
      s"""WITH RECURSIVE pairs AS (
         |$d78PairOracleSql),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS d FROM pairs),
         |verts AS (SELECT DISTINCT s AS doc_id FROM edges),
         |reach AS (
         |  SELECT doc_id, doc_id AS root FROM verts
         |  UNION
         |  SELECT e.d AS doc_id, r.root
         |  FROM reach r JOIN edges e ON e.s = r.doc_id),
         |comp AS (
         |  SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id),
         |sizes AS (
         |  SELECT cluster_id, COUNT(*) AS cluster_size
         |  FROM comp GROUP BY cluster_id)
         |SELECT c.doc_id, c.cluster_id, s.cluster_size
         |FROM comp c JOIN sizes s USING (cluster_id)
         |ORDER BY doc_id""".stripMargin,
    "d79_image_resize" ->
      """WITH d AS (SELECT doc_id FROM documents),
        |bits AS (
        |  SELECT doc_id, k,
        |    (((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
        |       // 1024 % 2
        |     + CASE WHEN k >= doc_id % 61 AND k < doc_id % 61 + doc_id % 4
        |            THEN 1 ELSE 0 END) % 2 AS b
        |  FROM (SELECT doc_id, k,
        |          ((doc_id // 4) * 1000003 + k * 7919 + 12345)
        |            % 1000000007 AS x
        |        FROM d, range(64) t(k))),
        |h AS (
        |  SELECT doc_id,
        |    CAST(SUM(CASE WHEN k < 32
        |      THEN b * (CAST(1 AS BIGINT) << CAST(k AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS lo,
        |    CAST(SUM(CASE WHEN k >= 32
        |      THEN b * (CAST(1 AS BIGINT) << CAST(k - 32 AS INTEGER))
        |      ELSE 0 END) AS BIGINT) AS hi
        |  FROM bits GROUP BY doc_id)
        |SELECT d.doc_id,
        |  CASE WHEN d.doc_id % 17 <> 0 THEN 'bmp' END AS r_format,
        |  CASE WHEN d.doc_id % 17 <> 0 THEN CAST(9 AS BIGINT) END AS r_w,
        |  CASE WHEN d.doc_id % 17 <> 0 THEN CAST(8 AS BIGINT) END AS r_h,
        |  CASE WHEN d.doc_id % 17 <> 0 THEN
        |    upper(lpad(to_hex(hi), 8, '0') || lpad(to_hex(lo), 8, '0'))
        |  END AS dhash_hex
        |FROM d JOIN h USING (doc_id) ORDER BY doc_id""".stripMargin,
    "d81_image_keep_best" ->
      s"""WITH RECURSIVE pairs AS (
         |$d78PairOracleSql),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS d FROM pairs),
         |verts AS (SELECT DISTINCT s AS doc_id FROM edges),
         |reach AS (
         |  SELECT doc_id, doc_id AS root FROM verts
         |  UNION
         |  SELECT e.d AS doc_id, r.root
         |  FROM reach r JOIN edges e ON e.s = r.doc_id),
         |comp AS (
         |  SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id),
         |px AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN CAST(288 AS BIGINT)
         |         ELSE CAST(72 AS BIGINT) END AS px
         |  FROM comp)
         |SELECT c.doc_id, c.cluster_id, p.px,
         |  (ROW_NUMBER() OVER (PARTITION BY c.cluster_id
         |      ORDER BY p.px DESC, c.doc_id) = 1) AS keep
         |FROM comp c JOIN px p USING (doc_id)
         |ORDER BY c.doc_id""".stripMargin,
    "d83_image_dedup_incremental" ->
      s"""WITH pairs AS (
         |$d78PairOracleSql),
         |delta AS (
         |  SELECT doc_id FROM documents WHERE (doc_id // 4) % 3 = 0)
         |SELECT d.doc_id FROM delta d
         |WHERE NOT EXISTS (
         |  SELECT 1 FROM pairs p
         |  WHERE (p.doc_a = d.doc_id AND (p.doc_b // 4) % 3 <> 0)
         |     OR p.doc_b = d.doc_id)
         |ORDER BY d.doc_id""".stripMargin,
    "d84_png_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
        |bits AS (
        |  SELECT doc_id, k,
        |    (((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
        |       // 1024 % 2
        |     + CASE WHEN k >= doc_id % 57 AND k < doc_id % 57 + doc_id % 5
        |            THEN 1 ELSE 0 END) % 2 AS b
        |  FROM (SELECT doc_id, k,
        |          ((doc_id // 6) * 1000033 + k * 7489 + 13579)
        |            % 1000000007 AS x
        |        FROM d, range(64) t(k))),
        |h AS (
        |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |         SUM(CASE WHEN a.b <> c.b THEN 1 ELSE 0 END)::BIGINT
        |           AS hamming
        |  FROM bits a JOIN bits c ON a.k = c.k AND a.doc_id < c.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "c10_media_dedup_card" -> c10OracleSql,
    "d87_gif_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
        |bits AS (
        |  SELECT doc_id, k,
        |    (((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
        |       // 1024 % 2
        |     + CASE WHEN k >= doc_id % 47 AND k < doc_id % 47 + doc_id % 4
        |            THEN 1 ELSE 0 END) % 2 AS b
        |  FROM (SELECT doc_id, k,
        |          ((doc_id // 8) * 1000121 + k * 7723 + 97531)
        |            % 1000000007 AS x
        |        FROM d, range(64) t(k))),
        |h AS (
        |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |         SUM(CASE WHEN a.b <> c.b THEN 1 ELSE 0 END)::BIGINT
        |           AS hamming
        |  FROM bits a JOIN bits c ON a.k = c.k AND a.doc_id < c.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d86_cross_format_dedup" ->
      """WITH d AS (SELECT doc_id FROM documents WHERE doc_id % 17 <> 0),
        |bits AS (
        |  SELECT doc_id, k,
        |    (((x * x % 2147483647) * (x * x % 2147483647) % 2147483647)
        |       // 1024 % 2
        |     + CASE WHEN k >= doc_id % 51 AND k < doc_id % 51 + doc_id % 4
        |            THEN 1 ELSE 0 END) % 2 AS b
        |  FROM (SELECT doc_id, k,
        |          ((doc_id // 4) * 1000099 + k * 7591 + 24680)
        |            % 1000000007 AS x
        |        FROM d, range(64) t(k))),
        |h AS (
        |  SELECT a.doc_id AS doc_a, c.doc_id AS doc_b,
        |         SUM(CASE WHEN a.b <> c.b THEN 1 ELSE 0 END)::BIGINT
        |           AS hamming
        |  FROM bits a JOIN bits c ON a.k = c.k AND a.doc_id < c.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, hamming FROM h WHERE hamming <= 3
        |ORDER BY doc_a, doc_b""".stripMargin,
    "d85_video_dedup" -> d85PairOracleSql,
    "d82_audio_dedup" -> d82PairOracleSql,
    // d94's oracle: both modalities' pair oracles nested as CTEs (the
    // d90 pattern twice, relation names prefixed), component labeling
    // re-derived recursively, and all 8 funnel rows assembled from
    // scalar counts — every stage count computed arithmetically from
    // doc_id, never trusting the decoders under test.
    "d94_av_pipeline_e2e" ->
      s"""WITH RECURSIVE ${d94ModalityCtes("a", d82PairOracleSql)},
         |${d94ModalityCtes("v", d85PairOracleSql)}
         |SELECT modality, stage, docs_in, docs_out, n_pairs, n_clusters,
         |  max_cluster, docs_in - docs_out AS dropped
         |FROM (
         |${d94ModalityRows("audio_wav", "a")}
         |  UNION ALL
         |${d94ModalityRows("video_y4m", "v")}) s
         |ORDER BY modality, stage""".stripMargin,
    "d75_chunk_dedup" ->
      s"""$cdcChunkCtes,
        |chunks AS (
        |  SELECT doc_id, (e - s + 1)::BIGINT AS chunk_len,
        |    md5(substr(text, s::INTEGER, (e - s + 1)::INTEGER)) AS chunk_md5
        |  FROM ch),
        |eligible AS (SELECT * FROM chunks WHERE chunk_len >= 16),
        |shared_keys AS (
        |  SELECT chunk_md5 FROM eligible
        |  GROUP BY chunk_md5 HAVING count(DISTINCT doc_id) >= 2),
        |shared AS (
        |  SELECT e.doc_id, count(*)::BIGINT AS shared_chunks,
        |    CAST(sum(e.chunk_len) AS BIGINT) AS shared_chars
        |  FROM eligible e JOIN shared_keys k USING (chunk_md5)
        |  GROUP BY e.doc_id),
        |vol AS (
        |  SELECT doc_id, count(*)::BIGINT AS n_chunks,
        |    CAST(sum(chunk_len) AS BIGINT) AS n_chars
        |  FROM chunks GROUP BY doc_id)
        |SELECT v.doc_id, v.n_chunks, v.n_chars,
        |  COALESCE(s.shared_chunks, 0) AS shared_chunks,
        |  COALESCE(s.shared_chars, 0) AS shared_chars,
        |  COALESCE(s.shared_chars, 0) * 10000
        |    // greatest(v.n_chars, 1) AS shared_fp
        |FROM vol v LEFT JOIN shared s ON s.doc_id = v.doc_id
        |ORDER BY v.doc_id""".stripMargin,
    "d74_cdc_chunks" ->
      s"""$cdcChunkCtes
        |SELECT doc_id,
        |  row_number() OVER (PARTITION BY doc_id ORDER BY s)::BIGINT
        |    AS chunk_idx,
        |  s AS start_pos,
        |  (e - s + 1)::BIGINT AS chunk_len,
        |  md5(substr(text, s::INTEGER, (e - s + 1)::INTEGER)) AS chunk_md5
        |FROM ch
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "d72_source_divergence" ->
      s"""WITH occ AS (
         |  SELECT source, unnest($tokSql) AS token FROM documents),
         |occ2 AS (SELECT source, token FROM occ WHERE token <> ''),
         |by_source AS (
         |  SELECT source, token, count(*)::BIGINT AS c_st FROM occ2
         |  GROUP BY 1, 2),
         |corpus AS (
         |  SELECT token, count(*)::BIGINT AS c_t FROM occ2 GROUP BY 1),
         |totals AS (
         |  SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s,
         |    count(*)::BIGINT AS n_types
         |  FROM by_source GROUP BY 1),
         |n AS (SELECT count(*)::BIGINT AS n_corpus FROM occ2),
         |folds AS (
         |  SELECT s.source,
         |    CAST(sum(CAST(s.c_st * (ln(s.c_st) - ln(c.c_t))
         |      AS DECIMAL(30,15))) AS DOUBLE) AS fold
         |  FROM by_source s JOIN corpus c ON c.token = s.token
         |  GROUP BY 1)
         |SELECT f.source, t.n_s AS n_tokens, t.n_types,
         |  round((f.fold / t.n_s + ln(n.n_corpus) - ln(t.n_s)) / ln(2), 4)
         |    AS kl_bits
         |FROM folds f JOIN totals t ON t.source = f.source CROSS JOIN n
         |ORDER BY f.source""".stripMargin,
    // d1 verifies candidates with exact Jaccard — its contract IS c2's.
    "d1_dedup_minhash_lsh" -> GroupC.oracleSql("c2_dedup_near"),
    // d30 verifies candidates with the exact containment test, and its
    // prefix-filter candidate set is complete by pigeonhole — its contract
    // IS c7's, exactly.
    "d30_containment_probe" -> GroupC.oracleSql("c7_containment"),
    "d28_chunk_overlap" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |base AS (
         |  SELECT doc_id, ts, CAST(len(ts) AS BIGINT) AS n FROM toks
         |  WHERE len(ts) >= 1 AND ts[1] <> ''),
         |chunks AS (
         |  SELECT doc_id, i AS chunk_id, i * 48 + 1 AS chunk_start,
         |    list_slice(ts, i * 48 + 1, least(i * 48 + 64, n)) AS chunk
         |  FROM base, LATERAL (SELECT unnest(range(0,
         |    CASE WHEN n <= 64 THEN 1 ELSE (n - 64 + 47) // 48 + 1 END)) AS i))
         |SELECT doc_id, chunk_id, chunk_start,
         |  CAST(len(chunk) AS BIGINT) AS n_chunk_tokens,
         |  md5(array_to_string(chunk, ' ')) AS chunk_fp
         |FROM chunks
         |ORDER BY doc_id, chunk_id""".stripMargin,
    "d34_dedup_incremental" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i)
         |  WHERE len(ts) >= 3),
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |delta AS (SELECT doc_id FROM documents
         |  WHERE source IN ('src17', 'src18', 'src19')),
         |cand AS (
         |  SELECT DISTINCT d.doc_id AS did, o.doc_id AS oid
         |  FROM sh d
         |  JOIN delta dl ON dl.doc_id = d.doc_id
         |  JOIN sh o ON o.shingle = d.shingle AND o.doc_id <> d.doc_id),
         |common AS (
         |  SELECT c.did, c.oid, count(*) AS c
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.did
         |  JOIN sh sb ON sb.doc_id = c.oid AND sb.shingle = sa.shingle
         |  GROUP BY c.did, c.oid),
         |matched AS (
         |  SELECT DISTINCT cm.did AS doc_id
         |  FROM common cm
         |  JOIN sizes sd ON sd.doc_id = cm.did
         |  JOIN sizes so ON so.doc_id = cm.oid
         |  WHERE cm.c * 8 >= (sd.n + so.n) * 3
         |    AND (cm.oid NOT IN (SELECT doc_id FROM delta) OR cm.oid < cm.did))
         |SELECT d.doc_id, d.lang, d.source, d.n_chars
         |FROM documents d
         |JOIN delta USING (doc_id)
         |WHERE d.doc_id NOT IN (SELECT doc_id FROM matched)
         |ORDER BY d.doc_id""".stripMargin,
    "d58_lm_score" ->
      s"""$lmCtes
         |SELECT doc_id, lang, n_bigrams, lm_score_fp
         |FROM lm ORDER BY doc_id""".stripMargin,
    "d61_budget_assembly" ->
      s"""$lmCtes,
         |sel AS (
         |  SELECT l.doc_id, l.lang, l.lm_score_fp,
         |    CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY l.lang
         |      ORDER BY l.lm_score_fp DESC, l.doc_id) AS BIGINT) AS rk,
         |    CAST(COALESCE(SUM(len(t.ts)) OVER (PARTITION BY l.lang
         |      ORDER BY l.lm_score_fp DESC, l.doc_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         |      AS BIGINT) AS cum_before
         |  FROM lm l JOIN toks t ON t.doc_id = l.doc_id)
         |SELECT doc_id, lang, lm_score_fp, n_tokens, rk,
         |  cum_before + n_tokens AS cum_tokens
         |FROM sel WHERE cum_before < 2500 ORDER BY doc_id""".stripMargin,
    "d62_hard_negatives" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nn_id,
        |    (b.label = a.label) AS same,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a
        |  JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 50),
        |ranked AS (
        |  SELECT qid, nn_id, same, s,
        |    ROW_NUMBER() OVER (PARTITION BY qid, same
        |      ORDER BY s DESC, nn_id) AS rn
        |  FROM pairs)
        |SELECT qid,
        |  max(CASE WHEN same THEN nn_id END) AS pos_id,
        |  ROUND(max(CASE WHEN same THEN s END), 6) AS pos_sim,
        |  max(CASE WHEN NOT same THEN nn_id END) AS neg_id,
        |  ROUND(max(CASE WHEN NOT same THEN s END), 6) AS neg_sim,
        |  ROUND(max(CASE WHEN same THEN s END)
        |    - max(CASE WHEN NOT same THEN s END), 6) AS margin
        |FROM ranked WHERE rn = 1
        |GROUP BY qid ORDER BY qid""".stripMargin,
    "d68_data_card" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, source, text, $tokSql AS ts FROM documents),
         |vol AS (
         |  SELECT lang, count(*) AS n_docs,
         |    CAST(sum(len(ts)) AS BIGINT) AS n_tokens,
         |    CAST(count(DISTINCT source) AS BIGINT) AS n_sources,
         |    count(DISTINCT md5(text)) AS n_distinct_texts
         |  FROM toks GROUP BY lang),
         |tops AS (
         |  SELECT lang, max(sc) AS top_sc FROM (
         |    SELECT lang, source, count(*) AS sc FROM toks GROUP BY 1, 2)
         |  GROUP BY lang),
         |shl AS (
         |  SELECT doc_id, lang,
         |    list_transform(range(1, len(ts) - 1),
         |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS s
         |  FROM toks WHERE len(ts) >= 3),
         |rep AS (
         |  SELECT lang, count(*) AS repetitive_docs FROM shl
         |  WHERE floor((len(s) - len(list_distinct(s))) * 10000
         |    / CAST(len(s) AS DOUBLE)) >= 1000
         |  GROUP BY lang),
         |occ AS (
         |  SELECT doc_id, lang, source, ts[i] AS w1, ts[i+1] AS w2
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
         |  WHERE len(ts) >= 2),
         |refbi AS (
         |  SELECT lang, w1, w2, count(*) AS c2 FROM occ
         |  WHERE source = 'src0' GROUP BY 1, 2, 3),
         |refuni AS (
         |  SELECT lang, w1, count(*) AS c1 FROM occ
         |  WHERE source = 'src0' GROUP BY 1, 2),
         |refv AS (
         |  SELECT lang, count(DISTINCT w2) AS v FROM occ
         |  WHERE source = 'src0' GROUP BY 1),
         |scored AS (
         |  SELECT o.doc_id, o.lang,
         |    CAST((CAST(coalesce(b.c2, 0) + 1 AS HUGEINT) * 1000000)
         |      // (coalesce(u.c1, 0) + v.v) AS BIGINT) AS p_fp
         |  FROM occ o
         |  JOIN refv v ON v.lang = o.lang
         |  LEFT JOIN refbi b
         |    ON b.lang = o.lang AND b.w1 = o.w1 AND b.w2 = o.w2
         |  LEFT JOIN refuni u ON u.lang = o.lang AND u.w1 = o.w1),
         |lmdoc AS (
         |  SELECT doc_id, lang,
         |    CAST(sum(p_fp) // count(*) AS BIGINT) AS lm_score_fp
         |  FROM scored GROUP BY 1, 2),
         |lm AS (
         |  SELECT lang, CAST(sum(lm_score_fp) AS BIGINT) AS lm_sum,
         |    count(*) AS lm_n
         |  FROM lmdoc GROUP BY lang)
         |SELECT v.lang, v.n_docs, v.n_tokens, v.n_sources,
         |  CAST((t.top_sc * 10000) // v.n_docs AS BIGINT)
         |    AS top_source_share_fp,
         |  v.n_docs - v.n_distinct_texts AS exact_dup_docs,
         |  CAST(coalesce(r.repetitive_docs, 0) AS BIGINT) AS repetitive_docs,
         |  CAST(lm.lm_sum // lm.lm_n AS BIGINT) AS mean_lm_score_fp
         |FROM vol v
         |JOIN tops t ON t.lang = v.lang
         |LEFT JOIN rep r ON r.lang = v.lang
         |LEFT JOIN lm ON lm.lang = v.lang
         |ORDER BY v.lang""".stripMargin,
    "d67_exact_substring" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |wins AS (
         |  SELECT doc_id, i AS s,
         |    array_to_string(list_slice(ts, i + 1, i + 16), ' ') AS h
         |  FROM toks, LATERAL (SELECT unnest(range(0, len(ts) - 15)) AS i)
         |  WHERE len(ts) >= 16),
         |dupk AS (
         |  SELECT h FROM wins GROUP BY h HAVING count(DISTINCT doc_id) >= 2),
         |spans AS (
         |  SELECT w.doc_id, w.s, w.s + 15 AS e
         |  FROM wins w JOIN dupk USING (h)),
         |isl AS (
         |  SELECT doc_id, s, e,
         |    max(e) OVER (PARTITION BY doc_id ORDER BY s
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
         |  FROM spans),
         |ids AS (
         |  SELECT doc_id, s, e,
         |    sum(CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END)
         |      OVER (PARTITION BY doc_id ORDER BY s
         |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
         |  FROM isl),
         |rng AS (
         |  SELECT doc_id, isl, min(s) AS rs, max(e) AS re
         |  FROM ids GROUP BY 1, 2),
         |pd AS (
         |  SELECT doc_id, count(*) AS n_dup_ranges,
         |    CAST(sum(re - rs + 1) AS BIGINT) AS dup_tokens
         |  FROM rng GROUP BY doc_id)
         |SELECT t.doc_id, CAST(len(t.ts) AS BIGINT) AS n_tokens,
         |  CAST(coalesce(pd.n_dup_ranges, 0) AS BIGINT) AS n_dup_ranges,
         |  coalesce(pd.dup_tokens, 0) AS dup_tokens,
         |  CAST((coalesce(pd.dup_tokens, 0) * 10000) // len(t.ts) AS BIGINT)
         |    AS dup_fp
         |FROM toks t LEFT JOIN pd ON pd.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "d66_skew_report" ->
      """WITH
        |p1 AS (
        |  SELECT 'documents' AS tbl, 'lang' AS key_name,
        |    CAST(lang AS VARCHAR) AS key_value, count(*) AS cnt
        |  FROM documents GROUP BY 3),
        |p1t AS (
        |  SELECT *, (SELECT count(*) FROM documents) AS total,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, key_value) AS rnk
        |  FROM p1),
        |p2 AS (
        |  SELECT 'documents' AS tbl, 'source' AS key_name,
        |    CAST(source AS VARCHAR) AS key_value, count(*) AS cnt
        |  FROM documents GROUP BY 3),
        |p2t AS (
        |  SELECT *, (SELECT count(*) FROM documents) AS total,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, key_value) AS rnk
        |  FROM p2),
        |p3 AS (
        |  SELECT 'events' AS tbl, 'event_type' AS key_name,
        |    CAST(event_type AS VARCHAR) AS key_value, count(*) AS cnt
        |  FROM events GROUP BY 3),
        |p3t AS (
        |  SELECT *, (SELECT count(*) FROM events) AS total,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, key_value) AS rnk
        |  FROM p3),
        |p4 AS (
        |  SELECT 'events' AS tbl, 'user_id' AS key_name,
        |    CAST(user_id AS VARCHAR) AS key_value, count(*) AS cnt
        |  FROM events GROUP BY 3),
        |p4t AS (
        |  SELECT *, (SELECT count(*) FROM events) AS total,
        |    ROW_NUMBER() OVER (ORDER BY cnt DESC, key_value) AS rnk
        |  FROM p4),
        |u AS (
        |  SELECT * FROM p1t WHERE rnk <= 5
        |  UNION ALL SELECT * FROM p2t WHERE rnk <= 5
        |  UNION ALL SELECT * FROM p3t WHERE rnk <= 5
        |  UNION ALL SELECT * FROM p4t WHERE rnk <= 5)
        |SELECT tbl, key_name, key_value, cnt,
        |  CAST((cnt * 1000000) // total AS BIGINT) AS share_fp,
        |  CAST(rnk AS BIGINT) AS rnk,
        |  CAST((cnt * 1000000) // total AS BIGINT) * 32 AS straggler_x32_fp,
        |  CAST((cnt * 1000000) // total AS BIGINT) * 32 > 2000000
        |    AS needs_salting
        |FROM u ORDER BY tbl, key_name, rnk""".stripMargin,
    "d65_token_drift" ->
      s"""WITH a AS (
         |  SELECT substr(md5(w), 1, 2) AS bucket, count(*) AS c_a
         |  FROM (SELECT unnest($tokSql) AS w FROM documents
         |        WHERE source NOT IN ('src17', 'src18', 'src19'))
         |  WHERE w <> '' GROUP BY 1),
         |bdocs AS (
         |  SELECT CASE WHEN doc_id % 13 = 0 THEN text || ' [rev2]'
         |    ELSE text END AS text
         |  FROM documents WHERE doc_id % 17 <> 0),
         |b AS (
         |  SELECT substr(md5(w), 1, 2) AS bucket, count(*) AS c_b
         |  FROM (SELECT unnest($tokSql) AS w FROM bdocs)
         |  WHERE w <> '' GROUP BY 1),
         |j AS (
         |  SELECT coalesce(a.bucket, b.bucket) AS bucket,
         |    CAST(coalesce(a.c_a, 0) AS BIGINT) AS c_a,
         |    CAST(coalesce(b.c_b, 0) AS BIGINT) AS c_b
         |  FROM a FULL OUTER JOIN b ON b.bucket = a.bucket),
         |s AS (
         |  SELECT bucket, c_a, c_b,
         |    CAST((c_a * 1000000) // sum(c_a) OVER () AS BIGINT) AS share_a_fp,
         |    CAST((c_b * 1000000) // sum(c_b) OVER () AS BIGINT) AS share_b_fp
         |  FROM j)
         |SELECT bucket, c_a, c_b, share_a_fp, share_b_fp,
         |  abs(share_a_fp - share_b_fp) AS drift_fp
         |FROM s ORDER BY bucket""".stripMargin,
    "d64_hashed_tf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |tf AS (
         |  SELECT doc_id, substr(md5(w), 1, 2) AS bucket, count(*) AS c
         |  FROM (SELECT doc_id, unnest(ts) AS w FROM toks) WHERE w <> ''
         |  GROUP BY 1, 2)
         |SELECT doc_id, count(*) AS nnz, CAST(sum(c) AS BIGINT) AS n_tokens,
         |  md5(string_agg(bucket || ':' || c, ',' ORDER BY bucket)) AS vec_fp
         |FROM tf GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "d59_boilerplate_spans" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |spans AS (
         |  SELECT doc_id,
         |    md5(array_to_string(list_slice(ts, i*8 + 1, i*8 + 8), ' ')) AS k,
         |    len(list_slice(ts, i*8 + 1, i*8 + 8)) AS n_tok
         |  FROM toks,
         |    LATERAL (SELECT unnest(range(0, (len(ts) - 1) // 8 + 1)) AS i)),
         |boiler AS (
         |  SELECT k FROM spans GROUP BY k HAVING count(DISTINCT doc_id) >= 2)
         |SELECT s.doc_id, count(*) AS n_spans,
         |  CAST(sum(CASE WHEN b.k IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_boiler,
         |  CAST(sum(s.n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(CASE WHEN b.k IS NULL THEN s.n_tok ELSE 0 END) AS BIGINT)
         |    AS n_tokens_kept,
         |  CAST((sum(CASE WHEN b.k IS NULL THEN s.n_tok ELSE 0 END) * 10000)
         |    // sum(s.n_tok) AS BIGINT) AS retention_fp
         |FROM spans s LEFT JOIN boiler b ON b.k = s.k
         |GROUP BY s.doc_id ORDER BY s.doc_id""".stripMargin,
    "d32_bigram_novelty" ->
      s"""WITH toks AS (
         |  SELECT doc_id, lang, $tokSql AS ts FROM documents),
         |occ AS (
         |  SELECT doc_id, lang, ts[i] AS w1, ts[i+1] AS w2
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
         |  WHERE len(ts) >= 2),
         |vocab AS (
         |  SELECT lang, w1, w2 FROM occ
         |  GROUP BY lang, w1, w2 HAVING count(*) >= 5)
         |SELECT o.doc_id, o.lang,
         |  count(*) AS n_bigrams,
         |  CAST(sum(CASE WHEN v.w1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
         |  CAST((sum(CASE WHEN v.w1 IS NULL THEN 1 ELSE 0 END) * 10000)
         |    // count(*) AS BIGINT) AS novelty_fp
         |FROM occ o
         |LEFT JOIN vocab v
         |  ON v.lang = o.lang AND v.w1 = o.w1 AND v.w2 = o.w2
         |GROUP BY o.doc_id, o.lang
         |ORDER BY o.doc_id""".stripMargin,
    "d29_bigram_pmi" ->
      s"""WITH toks AS (
         |  SELECT lang, $tokSql AS ts FROM documents),
         |bi AS (
         |  SELECT lang, ts[i] AS w1, ts[i+1] AS w2, count(*) AS cnt
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts))) AS i)
         |  GROUP BY 1, 2, 3),
         |uc AS (
         |  SELECT lang, w, count(*) AS c1
         |  FROM (SELECT lang, unnest(ts) AS w FROM toks)
         |  WHERE w <> '' GROUP BY 1, 2),
         |tt AS (SELECT lang, CAST(sum(c1) AS BIGINT) AS t FROM uc GROUP BY 1),
         |j AS (
         |  SELECT b.lang, b.w1, b.w2, b.cnt,
         |    CAST((CAST(b.cnt AS HUGEINT) * tt.t * 10000)
         |      // (CAST(ua.c1 AS HUGEINT) * ub.c1) AS BIGINT) AS lift_fp,
         |    ROW_NUMBER() OVER (
         |      PARTITION BY b.lang ORDER BY b.cnt DESC, b.w1, b.w2) AS rnk
         |  FROM bi b
         |  JOIN uc ua ON ua.lang = b.lang AND ua.w = b.w1
         |  JOIN uc ub ON ub.lang = b.lang AND ub.w = b.w2
         |  JOIN tt ON tt.lang = b.lang)
         |SELECT lang, w1, w2, cnt, lift_fp, CAST(rnk AS BIGINT) AS rnk
         |FROM j WHERE rnk <= 5
         |ORDER BY lang, rnk""".stripMargin,
    // d14's pair graph is d1's output, whose contract is c2's exact pair
    // SQL — so the oracle recomputes those pairs and takes the transitive
    // closure with a recursive CTE (min reachable id = component id).
    "d14_dedup_clusters" -> d14OracleSql,
    // d31 labels the identical pair graph by star contraction — same
    // output contract, same oracle.
    "d31_dedup_clusters_star" -> d14OracleSql,
    // d22 replays the four stages from the same proven fragments: c2's
    // exact pair SQL (= d1's contract), d14's recursive closure, d18's
    // repetition rule, d17's quota rank, d15's split boundaries.
    "d22_pipeline_e2e" ->
      s"""$pipelineCtes,
         |ranked AS (
         |  SELECT doc_id, lang, source,
         |    ROW_NUMBER() OVER (PARTITION BY lang
         |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
         |    COUNT(*) OVER (PARTITION BY lang) AS n
         |  FROM capped)
         |SELECT doc_id, lang, source,
         |  CASE WHEN rn <= (n * 8) // 10 THEN 'train'
         |       WHEN rn <= (n * 9) // 10 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM ranked
         |ORDER BY doc_id""".stripMargin,
    "d21_quantize_embed" ->
      """WITH base AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |scaled AS (
        |  SELECT vec_id, label,
        |    CAST(len(v) AS BIGINT) AS n_dims,
        |    list_max(list_transform(v, x -> abs(x))) AS scale, v
        |  FROM base)
        |SELECT vec_id, label, n_dims,
        |  CAST(floor(scale * 1e6) AS BIGINT) AS scale_fp,
        |  CASE WHEN floor(scale * 1e6) > 0 THEN
        |    md5(array_to_string(list_transform(v,
        |      x -> CAST(CAST(floor(x / scale * 127) AS BIGINT) AS VARCHAR)), ','))
        |  END AS q_fp
        |FROM scaled
        |ORDER BY vec_id""".stripMargin,
    "d20_pack_sequences" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, lang,
           |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
           |  FROM documents),
           |pos AS (
           |  SELECT doc_id, lang, n_tokens,
           |    CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY lang
           |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
           |      AS start_pos
           |  FROM toks)
           |SELECT doc_id, lang, n_tokens,
           |  start_pos // 4096 AS pack_id,
           |  start_pos % 4096 AS pack_offset
           |FROM pos
           |ORDER BY doc_id""".stripMargin,
    "d17_quota_sample" ->
      """WITH ranked AS (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY lang, source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        |  FROM documents)
        |SELECT doc_id, lang, source, rk
        |FROM ranked WHERE rk <= 5
        |ORDER BY doc_id""".stripMargin,
    "d18_repetition" ->
      s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |sh AS (
         |  SELECT doc_id,
         |    list_transform(range(1, len(ts) - 1),
         |      i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]) AS s
         |  FROM base WHERE len(ts) >= 3)
         |SELECT doc_id,
         |  CAST(len(s) AS BIGINT) AS n_shingles,
         |  CAST(len(list_distinct(s)) AS BIGINT) AS n_distinct,
         |  CAST(floor((len(s) - len(list_distinct(s))) * 10000
         |    / CAST(len(s) AS DOUBLE)) AS BIGINT) AS dup_fp,
         |  floor((len(s) - len(list_distinct(s))) * 10000
         |    / CAST(len(s) AS DOUBLE)) >= 1000 AS repetitive
         |FROM sh
         |ORDER BY doc_id""".stripMargin,
    "d19_decontaminate" -> d19OracleSql,
    // d23 is d19's exact semantics behind a bloom pre-filter (false
    // positives removed by the exact join) — the oracle is d19's.
    "d23_bloom_decon" -> d19OracleSql,
    "d44_contamination_report" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |sh AS (
         |  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
         |  FROM toks, LATERAL (SELECT unnest(range(1, len(ts) - 1)) AS i)
         |  WHERE len(ts) >= 3),
         |train_sh AS (
         |  SELECT s.doc_id, s.shingle FROM sh s
         |  JOIN documents d USING (doc_id) WHERE d.source <> 'src0'),
         |bench_sh AS (
         |  SELECT s.doc_id AS bench_id, s.shingle FROM sh s
         |  JOIN documents d USING (doc_id) WHERE d.source = 'src0'),
         |sizes AS (
         |  SELECT doc_id, COUNT(*) AS n FROM train_sh GROUP BY doc_id),
         |pair AS (
         |  SELECT t.doc_id, b.bench_id, COUNT(*) AS n_shared
         |  FROM train_sh t JOIN bench_sh b USING (shingle)
         |  GROUP BY t.doc_id, b.bench_id),
         |top AS (
         |  SELECT doc_id, bench_id, n_shared,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY n_shared DESC, bench_id) AS rn
         |  FROM pair)
         |SELECT d.doc_id, d.lang, d.source, t.bench_id, t.n_shared,
         |  (t.n_shared * 10000) // s.n AS contam_fp
         |FROM top t JOIN sizes s USING (doc_id) JOIN documents d USING (doc_id)
         |WHERE t.rn = 1
         |ORDER BY d.doc_id""".stripMargin,
    "d45_token_rarity" ->
      s"""WITH toks AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |occ AS (
         |  SELECT doc_id, t.token
         |  FROM toks, LATERAL (SELECT unnest(ts) AS token) t
         |  WHERE t.token <> ''),
         |dfreq AS (
         |  SELECT token, COUNT(*) AS df FROM (
         |    SELECT DISTINCT doc_id, token FROM occ) GROUP BY token),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents)
         |SELECT o.doc_id, COUNT(*) AS n_occ,
         |  CAST((SUM(f.df) * 10000) // (COUNT(*) * n.n_docs) AS BIGINT)
         |    AS commonness_fp,
         |  CAST((SUM(f.df) * 10000) // (COUNT(*) * n.n_docs) AS BIGINT)
         |    < 2000 AS rare
         |FROM occ o JOIN dfreq f USING (token) CROSS JOIN n
         |GROUP BY o.doc_id, n.n_docs
         |ORDER BY o.doc_id""".stripMargin,
    "d46_dedup_keep_best" -> {
      val pairSql = GroupC.oracleSql("c2_dedup_near")
      val tok = tokSql
      s"""WITH RECURSIVE pairs AS (
         |$pairSql),
         |edges AS (
         |  SELECT doc_a AS s, doc_b AS d FROM pairs
         |  UNION ALL
         |  SELECT doc_b AS s, doc_a AS d FROM pairs),
         |verts AS (SELECT DISTINCT s AS doc_id FROM edges),
         |reach AS (
         |  SELECT doc_id, doc_id AS root FROM verts
         |  UNION
         |  SELECT e.d AS doc_id, r.root FROM reach r JOIN edges e ON e.s = r.doc_id),
         |comp AS (SELECT doc_id, MIN(root) AS cluster_id FROM reach GROUP BY doc_id),
         |csizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id),
         |qual AS (
         |  SELECT doc_id, len(ts)::BIGINT AS n_tokens,
         |    (len(ts) >= 5 AND
         |     CAST(floor(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
         |       / CAST(greatest(len(text), 1) AS DOUBLE) * 10000) AS BIGINT) <= 3000 AND
         |     CAST(floor(list_sum(list_transform(ts, x -> len(x)))
         |       / CAST(greatest(len(ts), 1) AS DOUBLE) * 10000) AS BIGINT) BETWEEN 15000 AND 120000
         |    ) AS quality_ok
         |  FROM (SELECT doc_id, text, $tok AS ts FROM documents)),
         |labeled AS (
         |  SELECT d.doc_id, d.lang, d.source, q.n_tokens, q.quality_ok,
         |    c.cluster_id, s.cluster_size
         |  FROM documents d JOIN qual q USING (doc_id)
         |  LEFT JOIN comp c USING (doc_id)
         |  LEFT JOIN csizes s USING (cluster_id)),
         |kept AS (
         |  SELECT doc_id, lang, source, n_tokens, quality_ok, cluster_size,
         |    row_number() OVER (PARTITION BY cluster_id
         |      ORDER BY quality_ok DESC, n_tokens DESC, doc_id) AS rn
         |  FROM labeled WHERE cluster_id IS NOT NULL)
         |SELECT doc_id, lang, source, n_tokens, quality_ok, cluster_size
         |FROM kept WHERE rn = 1
         |UNION ALL
         |SELECT doc_id, lang, source, n_tokens, quality_ok, 1::BIGINT AS cluster_size
         |FROM labeled WHERE cluster_id IS NULL
         |ORDER BY doc_id""".stripMargin
    },
    "d56_pipeline_funnel" ->
      s"""$pipelineCtes
         |SELECT stage, docs_in, docs_out, docs_in - docs_out AS dropped
         |FROM (
         |  SELECT '1_gate' AS stage,
         |    (SELECT count(*) FROM documents) AS docs_in,
         |    (SELECT count(*) FROM gate) AS docs_out
         |  UNION ALL SELECT '2_dedup',
         |    (SELECT count(*) FROM gate), (SELECT count(*) FROM kept)
         |  UNION ALL SELECT '3_quota',
         |    (SELECT count(*) FROM kept), (SELECT count(*) FROM capped)
         |) ORDER BY stage""".stripMargin,
    "d55_snapshot_diff" ->
      """WITH a AS (
        |  SELECT doc_id, md5(text) AS fp_old FROM documents
        |  WHERE source NOT IN ('src17', 'src18', 'src19')),
        |b AS (
        |  SELECT doc_id, md5(CASE WHEN doc_id % 13 = 0
        |    THEN text || ' [rev2]' ELSE text END) AS fp_new
        |  FROM documents WHERE doc_id % 17 <> 0)
        |SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
        |  CASE WHEN a.doc_id IS NULL THEN 'added'
        |       WHEN b.doc_id IS NULL THEN 'removed'
        |       ELSE 'changed' END AS status,
        |  a.fp_old, b.fp_new
        |FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
        |WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.fp_old <> b.fp_new
        |ORDER BY doc_id""".stripMargin,
    "d47_source_overlap" -> {
      val pairSql = GroupC.oracleSql("c2_dedup_near")
      s"""WITH c2 AS (
         |$pairSql),
         |cells AS (
         |  SELECT least(da.source, db.source) AS src_a,
         |    greatest(da.source, db.source) AS src_b,
         |    COUNT(*) AS n_pairs
         |  FROM c2 p
         |  JOIN documents da ON da.doc_id = p.doc_a
         |  JOIN documents db ON db.doc_id = p.doc_b
         |  GROUP BY 1, 2),
         |counts AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
         |SELECT c.src_a, c.src_b, c.n_pairs,
         |  CAST((c.n_pairs * 10000) // (CASE WHEN c.src_a = c.src_b
         |    THEN (ca.n_docs * (ca.n_docs - 1)) // 2
         |    ELSE ca.n_docs * cb.n_docs END) AS BIGINT) AS dup_rate_fp
         |FROM cells c
         |JOIN counts ca ON ca.source = c.src_a
         |JOIN counts cb ON cb.source = c.src_b
         |ORDER BY c.src_a, c.src_b""".stripMargin
    },
    "d48_label_knn" ->
      """WITH sims AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nn_id, b.label AS nn_label,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a JOIN embeddings b ON b.vec_id <> a.vec_id),
        |knn AS (
        |  SELECT qid, nn_label FROM (
        |    SELECT qid, nn_label,
        |      ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, nn_id) AS rn
        |    FROM sims) t WHERE rn <= 5),
        |votes AS (
        |  SELECT qid, nn_label, COUNT(*) AS votes FROM knn GROUP BY qid, nn_label),
        |pred AS (
        |  SELECT qid, nn_label, votes FROM (
        |    SELECT qid, nn_label, votes,
        |      ROW_NUMBER() OVER (PARTITION BY qid
        |        ORDER BY votes DESC, nn_label) AS vr
        |    FROM votes) t WHERE vr = 1)
        |SELECT e.vec_id, e.label, p.nn_label AS pred_label, p.votes,
        |  e.label = p.nn_label AS agree
        |FROM embeddings e JOIN pred p ON p.qid = e.vec_id
        |ORDER BY e.vec_id""".stripMargin,
    "d49_label_purity" ->
      """WITH e AS (
        |  SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
        |  FROM embeddings),
        |pos AS (
        |  SELECT label, i, SUM(CAST(v[i] AS DECIMAL(38,18))) AS m
        |  FROM e, LATERAL (SELECT unnest(range(1, len(v) + 1)) AS i)
        |  GROUP BY label, i),
        |cent AS (
        |  SELECT label, list(CAST(m AS DOUBLE) ORDER BY i) AS c
        |  FROM pos GROUP BY label),
        |sims AS (
        |  SELECT e.vec_id, e.label, list_cosine_similarity(e.v, c.c) AS s
        |  FROM e JOIN cent c USING (label)),
        |ranked AS (
        |  SELECT vec_id, label, s,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY label ORDER BY s ASC, vec_id) AS INT) AS label_rank,
        |    COUNT(*) OVER (PARTITION BY label) AS n_label
        |  FROM sims)
        |SELECT vec_id, label, ROUND(s, 6) AS centroid_sim, label_rank,
        |  label_rank <= greatest(1, n_label // 20) AS outlier
        |FROM ranked
        |ORDER BY vec_id""".stripMargin,
    "d50_temperature_sample" ->
      """WITH counts AS (
        |  SELECT source, COUNT(*) AS n_s FROM documents GROUP BY source),
        |total AS (SELECT COUNT(*) AS n_total FROM documents),
        |weighted AS (
        |  SELECT source, n_s,
        |    CAST(floor(sqrt(CAST(n_s AS DOUBLE) / CAST(n_total AS DOUBLE)) * 1e6)
        |      AS BIGINT) AS w_s,
        |    n_total
        |  FROM counts CROSS JOIN total),
        |quotas AS (
        |  SELECT source,
        |    CAST(least(n_s, (((6 * n_total) // 10) * w_s)
        |      // (SELECT SUM(w_s) FROM weighted)) AS BIGINT) AS k_s
        |  FROM weighted),
        |ranked AS (
        |  SELECT doc_id, lang, source,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR) || ':temp'), doc_id) AS rk
        |  FROM documents)
        |SELECT r.doc_id, r.lang, r.source, CAST(r.rk AS BIGINT) AS src_rank, q.k_s
        |FROM ranked r JOIN quotas q USING (source)
        |WHERE r.rk <= q.k_s
        |ORDER BY r.doc_id""".stripMargin,
    "d25_profile" -> {
      def one(name: String, numeric: Boolean, asDate: Boolean): String = {
        val e = if (asDate) s"CAST($name AS DATE)" else name
        val avg =
          if (numeric)
            s"ROUND(CAST(AVG(CAST($name AS DECIMAL(18,2))) AS DOUBLE), 2)"
          else "CAST(NULL AS DOUBLE)"
        s"""SELECT '$name' AS col_name, COUNT(*) AS n_rows,
           |  COUNT(*) - COUNT($e) AS n_null,
           |  COUNT(DISTINCT $e) AS n_distinct,
           |  CAST(MIN($e) AS VARCHAR) AS min_s,
           |  CAST(MAX($e) AS VARCHAR) AS max_s,
           |  $avg AS avg_r
           |FROM lineitem""".stripMargin
      }
      Seq(
        one("l_orderkey", numeric = true, asDate = false),
        one("l_quantity", numeric = true, asDate = false),
        one("l_extendedprice", numeric = true, asDate = false),
        one("l_returnflag", numeric = false, asDate = false),
        one("l_shipdate", numeric = false, asDate = true))
        .mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    "d26_mix_upsample" ->
      """WITH w AS (
        |  SELECT doc_id, lang,
        |    CAST(CASE lang WHEN 'en' THEN 0 WHEN 'de' THEN 2 WHEN 'es' THEN 1
        |                   WHEN 'fr' THEN 1 WHEN 'zh' THEN 3 ELSE 1 END
        |      + CASE WHEN
        |          CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000'
        |                    WHEN 'es' THEN '80000000' WHEN 'zh' THEN 'c0000000'
        |                    ELSE NULL END IS NOT NULL
        |          AND substr(md5(CAST(doc_id AS VARCHAR) || ':mix'), 1, 8) <
        |          CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000'
        |                    WHEN 'es' THEN '80000000' WHEN 'zh' THEN 'c0000000'
        |                    ELSE NULL END
        |        THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        |  FROM documents WHERE source <> 'src0')
        |SELECT doc_id, lang, CAST(i AS BIGINT) AS copy_id, n_copies
        |FROM w, LATERAL (SELECT unnest(range(1, n_copies + 1)) AS i)
        |WHERE n_copies >= 1
        |ORDER BY doc_id, copy_id""".stripMargin,
    "d24_fuzzy_join" ->
      """SELECT a.c_custkey AS ida, b.c_custkey AS idb,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |  AND levenshtein(a.c_name, b.c_name) <= 1
        |ORDER BY ida, idb""".stripMargin,
    "d57_fuzzy_join2" ->
      """SELECT a.c_custkey AS ida, b.c_custkey AS idb,
        |  CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
        |FROM customer a JOIN customer b
        |  ON a.c_custkey < b.c_custkey
        |  AND levenshtein(a.c_name, b.c_name) <= 2
        |ORDER BY ida, idb""".stripMargin,
    "d15_stratified_split" -> d15OracleSql,
    // d37 computes the identical split via sharded ranks — same contract,
    // same oracle (the d31/d14 pattern).
    "d37_split_sharded" -> d15OracleSql,
    "d42_outlier_docs" ->
      raw"""WITH toks AS (
           |  SELECT doc_id, lang,
           |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n_tokens
           |  FROM documents),
           |med AS (
           |  SELECT lang, quantile_cont(n_tokens, 0.5) AS med
           |  FROM toks GROUP BY 1),
           |dev AS (
           |  SELECT t.doc_id, t.lang, t.n_tokens, m.med,
           |    abs(t.n_tokens - m.med) AS adev
           |  FROM toks t JOIN med m USING (lang)),
           |mad AS (
           |  SELECT lang, quantile_cont(adev, 0.5) AS mad
           |  FROM dev GROUP BY 1)
           |SELECT d.doc_id, d.lang, d.n_tokens, d.med, m2.mad,
           |  (d.adev > 3 * m2.mad) AS is_outlier
           |FROM dev d JOIN mad m2 USING (lang)
           |ORDER BY d.doc_id""".stripMargin,
    "d40_length_histogram" ->
      raw"""WITH toks AS (
           |  SELECT lang,
           |    len(string_split_regex(trim(text), '\s+'))::BIGINT AS n
           |  FROM documents)
           |SELECT lang, CAST(len(bin(n)) AS BIGINT) AS bucket,
           |  count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS tok_sum
           |FROM toks WHERE n >= 1
           |GROUP BY 1, 2
           |ORDER BY lang, bucket""".stripMargin,
    "d38_bpe_pairs" ->
      s"""WITH words AS (
         |  SELECT w, count(*) AS wc FROM (
         |    SELECT unnest($tokSql) AS w FROM documents)
         |  WHERE w <> '' GROUP BY 1),
         |pairs AS (
         |  SELECT substr(w, i, 1) AS p1, substr(w, i + 1, 1) AS p2,
         |    CAST(sum(wc) AS BIGINT) AS cnt
         |  FROM words, LATERAL (SELECT unnest(range(1, len(w))) AS i)
         |  WHERE len(w) >= 2
         |  GROUP BY 1, 2),
         |ranked AS (
         |  SELECT p1, p2, cnt, CAST(ROW_NUMBER() OVER (
         |    ORDER BY cnt DESC, p1, p2) AS BIGINT) AS rnk
         |  FROM pairs)
         |SELECT p1, p2, cnt, rnk FROM ranked
         |WHERE rnk <= 20 ORDER BY rnk""".stripMargin,
    "d16_tfidf" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($tokSql) AS token FROM documents),
         |tf AS (
         |  SELECT doc_id, token, COUNT(*) AS tf
         |  FROM toks WHERE token <> '' GROUP BY 1, 2),
         |df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT COUNT(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, token, tf, df,
         |    ROUND(tf * ln(CAST(n_docs AS DOUBLE) / df), 4) AS tfidf,
         |    ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY tf DESC, df ASC, token) AS rnk
         |  FROM tf JOIN df USING (token) CROSS JOIN n)
         |SELECT doc_id, token, tf, df, tfidf, rnk
         |FROM scored WHERE rnk <= 5
         |ORDER BY doc_id, rnk""".stripMargin,
    "d2_dedup_simhash" ->
      s"""WITH toks AS (
         |  SELECT doc_id, unnest($tokSql) AS tok FROM documents),
         |tw AS (
         |  SELECT doc_id, tok, count(*) AS cnt FROM toks WHERE tok <> '' GROUP BY 1, 2),
         |th AS (
         |  SELECT doc_id, cnt, ('0x' || substr(md5(tok), 1, 8))::BIGINT AS h FROM tw),
         |bits AS (
         |  SELECT doc_id, j,
         |    CASE WHEN sum(cnt * (2 * ((h >> j) & 1) - 1)) > 0 THEN 1 ELSE 0 END AS bit
         |  FROM th, LATERAL (SELECT unnest(range(0, 32)) AS j)
         |  GROUP BY doc_id, j),
         |sig AS (SELECT doc_id, sum(bit << j)::BIGINT AS simhash FROM bits GROUP BY doc_id)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
         |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin,
    "d3_knn_join" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nn_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a
        |  JOIN embeddings b ON b.vec_id <> a.vec_id
        |  WHERE a.vec_id < 50)
        |SELECT qid, nn_id, ROUND(s, 6) AS sim, rn FROM (
        |  SELECT qid, nn_id, s,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, nn_id) AS INT) AS rn
        |  FROM pairs) t
        |WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin,
    "d35_filtered_knn" ->
      """WITH pairs AS (
        |  SELECT a.vec_id AS qid, b.vec_id AS nn_id,
        |    list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
        |      CAST(b.embedding AS DOUBLE[])) AS s
        |  FROM embeddings a
        |  JOIN embeddings b ON b.vec_id <> a.vec_id AND b.label = 1
        |  WHERE a.vec_id < 50)
        |SELECT qid, nn_id, ROUND(s, 6) AS sim, rn FROM (
        |  SELECT qid, nn_id, s,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY s DESC, nn_id) AS BIGINT) AS rn
        |  FROM pairs) t
        |WHERE rn <= 5
        |ORDER BY qid, rn""".stripMargin,
    // d4_ann_lsh: approximate — no oracle (rows-only check).
    "d9_dedup_embedding" ->
      """SELECT e.vec_id, e.label
        |FROM embeddings e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM embeddings p
        |  WHERE p.vec_id < e.vec_id
        |    AND list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
        |          CAST(e.embedding AS DOUBLE[])) >= 0.3)
        |ORDER BY e.vec_id""".stripMargin,
    // d10 implements d9's semantics through the LSH-candidate pair source;
    // its 24×3 banding has measured-zero missed drops at the declared SFs,
    // so the exact NOT-EXISTS contract applies unchanged.
    "d10_dedup_embedding_lsh" ->
      """SELECT e.vec_id, e.label
        |FROM embeddings e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM embeddings p
        |  WHERE p.vec_id < e.vec_id
        |    AND list_cosine_similarity(CAST(p.embedding AS DOUBLE[]),
        |          CAST(e.embedding AS DOUBLE[])) >= 0.3)
        |ORDER BY e.vec_id""".stripMargin,
    "d5_lang_id" -> (langIdSelectSql + "\nORDER BY d.doc_id"),
    "d76_lang_confusion" ->
      s"""WITH pred AS (
         |$langIdSelectSql
         |),
         |cells AS (
         |  SELECT d.lang AS true_lang, p.pred_lang, count(*)::BIGINT AS n
         |  FROM documents d JOIN pred p ON p.doc_id = d.doc_id
         |  GROUP BY 1, 2),
         |tot AS (
         |  SELECT true_lang, CAST(sum(n) AS BIGINT) AS total
         |  FROM cells GROUP BY 1)
         |SELECT c.true_lang, c.pred_lang, c.n,
         |  c.n * 10000 // t.total AS share_fp,
         |  (c.true_lang = c.pred_lang) AS hit
         |FROM cells c JOIN tot t USING (true_lang)
         |ORDER BY true_lang, pred_lang""".stripMargin,
    "d6_quality_score" ->
      s"""WITH base AS (
         |  SELECT doc_id, text, $tokSql AS ts FROM documents)
         |SELECT doc_id,
         |  len(ts)::BIGINT AS n_tokens,
         |  CAST(floor(list_sum(list_transform(ts, x -> len(x)))
         |    / CAST(greatest(len(ts), 1) AS DOUBLE) * 10000) AS BIGINT) AS avg_token_len_e4,
         |  CAST(floor(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
         |    / CAST(greatest(len(text), 1) AS DOUBLE) * 10000) AS BIGINT) AS punct_ratio_e4,
         |  CAST(floor(len(list_filter(ts, x -> x IN ${sqlInList(langLists.head._2)}))
         |    / CAST(greatest(len(ts), 1) AS DOUBLE) * 10000) AS BIGINT) AS stop_ratio_e4,
         |  (len(ts) >= 5 AND
         |   CAST(floor(len(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g'))
         |     / CAST(greatest(len(text), 1) AS DOUBLE) * 10000) AS BIGINT) <= 3000 AND
         |   CAST(floor(list_sum(list_transform(ts, x -> len(x)))
         |     / CAST(greatest(len(ts), 1) AS DOUBLE) * 10000) AS BIGINT) BETWEEN 15000 AND 120000
         |  ) AS quality_ok
         |FROM base
         |ORDER BY doc_id""".stripMargin,
    "d7_token_count" ->
      raw"""SELECT doc_id,
           |  len(string_split_regex(trim(text), '\s+'))::BIGINT AS ws_tokens,
           |  len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]'))::BIGINT AS bpe_ish_tokens,
           |  len(text)::BIGINT AS n_chars_actual
           |FROM documents
           |ORDER BY doc_id""".stripMargin,
    "d8_fingerprint" ->
      s"""WITH base AS (
         |  SELECT doc_id, $tokSql AS ts FROM documents),
         |fp AS (
         |  SELECT doc_id,
         |    md5(array_to_string(ts, ' ')) AS md5_fp,
         |    list_reduce(list_prepend(0::BIGINT,
         |      list_transform(ts, t -> ('0x' || substr(md5(t), 1, 4))::BIGINT)),
         |      (acc, h) -> (acc * 65599 + h) % 2147483647) AS rolling_fp
         |  FROM base)
         |SELECT doc_id, md5_fp, rolling_fp,
         |  count(*) OVER (PARTITION BY md5_fp) AS n_same
         |FROM fp
         |ORDER BY doc_id""".stripMargin,
    )
    // d99 shares d96's oracle VERBATIM (see the d96 entry's note): the
    // WARC leg is lossless on (payload, uri) by construction, so the
    // funnels must hash-match — self-referential, hence appended here
    m + ("d99_warc_pipeline_e2e" -> m("d96_crawl_ingest_e2e"))
  }
}
