package graft.operators

import graft.{Tables, TableStats}
import graft.functions.{Text, Vector}
import graft.plans.OnePartition
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the embeddings table
  * (SURVEY.md §2.5). Query set = the FIXED id list [[annQueryIds]]
  * (deterministic AND corpus-independent: a benchmark whose query
  * count grew with the corpus — the old `vec_id % 100 == 0` rule —
  * turns every scan into O(n²/100) total work at scale; a constant
  * query set keeps total work O(n)·|Q|).
  */
object Similarity {

  /** Fixed ANN query ids. Ids absent from a (small) corpus simply
    * produce no query rows, so the same constant works at every SF;
    * at sf0.01 (vec_id 0..499) it selects exactly the 5 low-range
    * queries (the driver-gate workload is unchanged), and the 4 extra
    * ids — spread across sf0.1's 0..1999 id space — activate at
    * larger SFs so the benched workload isn't biased to the low end
    * of the id range. At any corpus size the set stays ≤9 queries.
    */
  val annQueryIds: Seq[Long] =
    Seq(0L, 100L, 200L, 300L, 400L, 799L, 1203L, 1607L, 1999L)

  private def isQuery = col("vec_id").isin(annQueryIds: _*)

  private def queriesAndCorpus(s: SparkSession, dir: String) = {
    // norms precomputed per vector so the pair loop is dot-only
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        Vector.norm(col("embedding")).as("nrm"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    (q, e)
  }

  private def pairCosine =
    Vector.dot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm"))

  /** Rank the scored pairs: bounded TopKPerKey (custom operator —
    * only k rows per query per partition reach the shuffle), then a
    * row_number window over the tiny survivor set to emit the rank
    * column. Results identical to a full window, cost bounded.
    */
  private def rankTopK(s: SparkSession, scored: org.apache.spark.sql.DataFrame,
      k: Int) =
    rankTopKFrame(s, scored, k).orderBy(col("query_id"), col("rn"))

  /** rankTopK's unsorted body (the factored-body rule) — s09/s20
    * consume it under their own aggregates so the inherited contract
    * sort never costs a range exchange.
    */
  private def rankTopKFrame(s: SparkSession,
      scored: org.apache.spark.sql.DataFrame, k: Int) = {
    graft.plans.GraftExtensions.install(s)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("vec_id"))
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("vec_id").asc), k)
      .withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("rn"),
        col("vec_id").as("neighbor_id"),
        floor(col("cos") * 10000).cast("long").as("cos_bp"))
  }

  /** s01 — brute-force cosine top-5 per query: the correctness
    * baseline. Queries are a tiny broadcast side; the corpus streams
    * once — no corpus shuffle, rank window partitioned by query_id.
    * (Deliberately NOT memoized: s01 is the measured brute-force
    * reference, and the bench's TopKPerKey trim telemetry reads its
    * plan's own partial stats.)
    */
  def annBruteForce(s: SparkSession, dir: String): DataFrame = {
    val (q, e) = queriesAndCorpus(s, dir)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", pairCosine)
    rankTopK(s, scored, 5)
  }

  private[graft] val truthMemo =
    new graft.SessionMemo[(SparkSession, String), DataFrame](
      df => { df.unpersist(); () })

  /** Memoized brute-force recall ground truth: the top-3 exact-cosine
    * (query_id, neighbor_id) set per query — the table a production
    * recall audit PERSISTS next to the index and every audit reads.
    * s09 and s20 previously each rebuilt the corpus × query brute
    * scan per invocation (the dominant cost of both); one cached
    * frame per (session, dir) now serves both, with the
    * cellsMemo/gateMemo lifecycle (evicted on session stop /
    * replaceDir — every bench or verify invocation recomputes from
    * parquet).
    */
  private[graft] def recallTruth(s: SparkSession, dir: String): DataFrame =
    truthMemo.getOrElseUpdate((s, dir), {
      val (q, e) = queriesAndCorpus(s, dir)
      val df = rankTopKFrame(s,
          e.join(broadcast(q), col("vec_id") =!= col("query_id"))
            .withColumn("cos", pairCosine), 3)
        .select(col("query_id"), col("neighbor_id"))
        .cache()
      df.count() // materialize: the first audit pays the scan once
      df
    })

  /** s02 — LSH-bucketed ANN (scale path): corpus bucketed by the sign
    * pattern of [[lshBits]] coordinates; each query only scans its own
    * bucket — at 100 TB the bucket column is a partition key and the
    * per-query work is ~n/2^bits, held ~CONSTANT by the adaptive bit
    * count (r11 verdict item 1: the old 3 pinned planes meant probe
    * work ∝ n/8, linear in the corpus). Top-3 within bucket.
    */
  /** s02's corpus-adaptive hyperplane count — d05's adaptiveBands rule
    * (Dedup.adaptiveBands) applied to the single query band:
    * bits = max(3, ⌈log₂ n⌉ − 3), so expected bucket occupancy
    * n/2^bits ≈ 8 at every corpus size (10× the data ⇒ ~3 more bits ⇒
    * flat per-probe work — ScaleSpec's s02 row measures it). Integer
    * arithmetic only (Dedup.ceilLog2 ↔ the oracle's
    * `greatest(3, length(bin(n−1)) − 3)`); planes are the contiguous
    * coordinate block 1..bits (the d05 band-0 convention). The
    * persisted layout (sources.IndexStore `lsh/`) FREEZES the build's
    * bit count in `lshlayout/` so streaming folds and probes encode
    * against the stored layout, not a re-derived one.
    */
  private[graft] def lshBits(n: Long): Int =
    math.max(3, Dedup.ceilLog2(n) - 3)

  private[graft] def lshDims(n: Long): Seq[Int] = (1 to lshBits(n))

  /** The embeddings row count the adaptive ANN layouts derive from —
    * injected table stat with a memoized count fallback (the
    * TableStats seam; at 100 TB this is a manifest read, not a scan).
    */
  private[graft] def nVecs(s: SparkSession, dir: String): Long =
    TableStats.rowCount(s, dir, "embeddings")(
      Tables.embeddings(s, dir).count())

  def annLsh(s: SparkSession, dir: String): DataFrame =
    annLshFrame(s, dir).orderBy(col("query_id"), col("rn"))

  /** s02's unsorted body (the factored-body rule) — s09/s14 consume
    * it under their own aggregates/ranks so the inherited contract
    * sort never costs a range exchange.
    */
  private[graft] def annLshFrame(s: SparkSession, dir: String): DataFrame = {
    val dims = lshDims(nVecs(s, dir))
    val (q0, e) = queriesAndCorpus(s, dir)
    val corpus = e.withColumn("bucket",
      Vector.signBucket(col("embedding"), dims))
    val q = q0.withColumn("bucket", Vector.signBucket(col("qv"), dims))
    val scored = corpus.join(broadcast(q),
        corpus("bucket") === q("bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", pairCosine)
    rankTopKFrame(s, scored, 3)
  }

  /** The s02 bucket layout as a STORED artifact: `(vec_id, embedding,
    * nrm, bucket)` of any vector frame under an EXPLICIT plane layout
    * — what IndexStore lands under `lsh/` (lake at build with the
    * build-time adaptive dims, arriving batches at fold with the
    * FROZEN stored dims; under a fixed layout the bucket of a vector
    * is corpus-independent, so appending is exact).
    */
  private[graft] def lshBucketsOf(e: DataFrame, dims: Seq[Int]): DataFrame =
    e.select(col("vec_id"), col("embedding"),
      Vector.norm(col("embedding")).as("nrm"),
      Vector.signBucket(col("embedding"), dims).as("bucket"))

  private[graft] def lshBuckets(s: SparkSession, dir: String): DataFrame =
    lshBucketsOf(Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")), lshDims(nVecs(s, dir)))

  /** s02 over the persisted bucket-partitioned corpus: each query's
    * bucket becomes a static `bucket IN` partition filter — the
    * "bucket column is a partition key at 100 TB" shape s02's
    * Scaladoc promises. Buckets are computed under the STORE's frozen
    * plane layout (`lshlayout/`), so the probe stays exact after any
    * number of streaming folds. Output-identical to [[annLsh]] when
    * the store was built on the probed lake.
    */
  private[graft] def annLshProbe(s: SparkSession, dir: String,
      idxDir: String): DataFrame = {
    val dims = graft.sources.IndexStore.storedLshDims(s, idxDir)
    val q = Tables.embeddings(s, dir).filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        Vector.norm(col("embedding")).as("qnrm"))
      .withColumn("bucket", Vector.signBucket(col("qv"), dims))
    val corpus = graft.sources.PartitionPrune.filterByKeys(
      s.read.parquet(s"$idxDir/lsh"), "bucket", q.select(col("bucket")))
    val scored = corpus.join(broadcast(q),
        corpus("bucket") === q("bucket") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", pairCosine)
    rankTopK(s, scored, 3)
  }

  /** s04 — hybrid retrieval: a lexical recall stage (documents
    * sharing ≥1 rare 3-token shingle with the query, df ≤ 1000 —
    * s04's OWN fixed stop-shingle cap, pinned by the oracle; d04's
    * cap became corpus-adaptive in r11, but here the query set is the
    * fixed ≤9-id slice so a constant recall cap is the right contract
    * — candidate generation stays a key-equality join that is
    * ~linear) followed by an embedding
    * cosine rerank, top-3 per query through TopKPerKey. This is the
    * keyword-prefilter → vector-rerank shape of a production retrieval
    * pipeline: the lexical stage bounds the vector work to candidates
    * instead of the whole corpus. Queries: the FIXED [[annQueryIds]]
    * set (the round-6 rule s01–s06 already follow) — the old
    * `doc_id % 10` rule made |Q| ∝ corpus, total work O(n²/10·overlap)
    * and broadcast 10 % of the embeddings table into every executor;
    * a constant query set keeps total work ~O(n)·|Q| and the
    * broadcast side a constant ≤9 rows at any corpus size.
    */
  def hybridSearch(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val cand = hybridCandidates(s, dir)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        Vector.norm(col("embedding")).as("nrm"))
    // the query-embedding slice is the fixed ≤9-id set — a constant-
    // size frame, safe (and right) to broadcast at any corpus size
    val qe = e.filter(col("vec_id").isin(annQueryIds: _*))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val ce = e.select(col("vec_id").as("doc_id"), col("embedding").as("dv"),
      col("nrm").as("dnrm"))
    val scored = cand.join(broadcast(qe), "query_id").join(ce, "doc_id")
      .withColumn("cos",
        Vector.dot(col("qv"), col("dv")) / (col("qnrm") * col("dnrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("doc_id"))
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("doc_id").asc), 3)
      .withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("rn"), col("doc_id").as("neighbor_id"),
        floor(col("cos") * 10000).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** s09 — ANN recall audit across the WHOLE index ladder: recall@3
    * of every approximate family (s02 LSH, s03 IVF, s06 IVF-PQ, s08
    * SQ8, s24 IVF-SQ8) against shared brute-force ground truth, one row per
    * (family, query) — the "measure, don't guess" closer of the ANN
    * ladder: an index whose recall silently decays as the corpus
    * grows (more hash collisions, skewed buckets, PQ quantization
    * drift) is caught by running this audit per ingest, and the
    * production job is exactly "recall per index per ingest". Ground
    * truth is the s01 pipeline at the same k, computed ONCE and
    * cached (it feeds all four family joins in one plan — the
    * re-execution rule); the truth scan dominates the cost, so
    * auditing five families costs barely more than auditing one.
    * All sides share the fixed ≤9-id query set, so total work stays
    * O(n)·|Q| — an audit over a SAMPLED constant query set, never
    * corpus×corpus. recall_bp is integer basis points
    * (n_hits·10000 div n_true) — no float division to diverge
    * cross-engine.
    */
  def annRecallAudit(s: SparkSession, dir: String): DataFrame = {
    // the memoized ground-truth table (shared with s20) — ONE
    // brute-force scan per session, not one per audit invocation
    val truth = recallTruth(s, dir)
    val families = Seq(
      "s02_ann_lsh" -> annLshFrame(s, dir),
      "s03_ann_ivf" -> annIvfFrame(s, dir),
      "s06_ann_ivfpq" -> annIvfPqFrame(s, dir),
      "s08_ann_sq8" -> annSq8Frame(s, dir),
      "s24_ann_ivfsq8" -> annIvfSq8Frame(s, dir))
    // ONE unioned (family, query, neighbor) pass against the truth —
    // the r13 shape ran a separate join + aggregate per family (5
    // joins, 5 aggregates, and each family frame inherited its
    // contract sort: a range exchange per family under the aggregate)
    val approx = families.map { case (fam, adf) =>
      adf.select(lit(fam).as("family"), col("query_id"),
        col("neighbor_id"), lit(1).as("hit"))
    }.reduce(_ unionByName _)
    val truthAll = truth.select(col("query_id"), col("neighbor_id"),
      explode(array(families.map(f => lit(f._1)): _*)).as("family"))
    truthAll.join(approx, Seq("family", "query_id", "neighbor_id"), "left")
      .groupBy(col("family"), col("query_id"))
      .agg(count(lit(1)).cast("int").as("n_true"),
        count(col("hit")).cast("int").as("n_hits"))
      .withColumn("recall_bp",
        expr("CAST((n_hits * 10000) DIV n_true AS BIGINT)"))
      .select(col("family"), col("query_id"), col("n_true"),
        col("n_hits"), col("recall_bp"))
      .orderBy(col("family"), col("query_id"))
  }

  /** s20 — IVF NPROBE SWEEP: s09's recall audit turned into the
    * TUNING CURVE every vector-store deployment actually reads —
    * recall@3 per query at nprobe = 1, 2, 3 against shared brute
    * truth, one row per (nprobe, query). nprobe is THE
    * recall-vs-latency knob of an IVF index (probe more cells → see
    * more candidates → higher recall, linearly more scan), and the
    * production tuning loop is exactly "sweep nprobe, read this
    * table, pick the knee". s03 pins nprobe = 2; this sweep is the
    * evidence for that choice (s20's np=2 rows equal s09's s03 rows
    * by construction — spec-asserted).
    *
    * Scale shape: the candidate scan runs ONCE at the widest setting
    * (qrr ≤ 3 — each corpus vector still joins ≤|Q|·1 probe rows via
    * the cid key) and is cached; each nprobe pass is a FILTER of that
    * cached frame (qrr ≤ np) + the bounded TopKPerKey rank — the
    * sweep costs one s03-shaped scan, not three. Truth is the s01
    * scan, cached (the s09 rule). Query-side cell ranking is the
    * ≤9-row query slice × broadcast K centroids — corpus-independent.
    */
  def nprobeSweep(s: SparkSession, dir: String, maxNp: Int = 3): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val (q, _) = queriesAndCorpus(s, dir)
    // the memoized ground-truth table (shared with s09)
    val truth = recallTruth(s, dir)
    val cent = coarseCentroids(s, dir)
      .select(col("cid"), col("cv"), Vector.norm(col("cv")).as("cnrm"))
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("ccos").desc, col("cid"))
    val qcells = q.join(broadcast(cent), lit(true))
      .withColumn("ccos",
        Vector.dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("qrr", row_number().over(wq))
      .filter(col("qrr") <= maxNp)
      .select(col("query_id"), col("qv"), col("qnrm"), col("cid"),
        col("qrr"))
    val cells = cellAssignments(s, dir).filter(col("rr") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
    // narrow BEFORE caching: the per-np rank passes need only the
    // score tuple, never the embedding arrays — at 100 TB the cached
    // frame is 4 thin columns, not (|Q|·np/K)·n wide vectors
    val scored = cells.join(broadcast(qcells),
        cells("cid") === qcells("cid") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", pairCosine)
      .select(col("query_id"), col("qrr"), col("vec_id"), col("cos"))
      .cache()
    (1 to maxNp).map { np =>
      val approx = rankTopKFrame(s, scored.filter(col("qrr") <= np), 3)
        .select(col("query_id"), col("neighbor_id"), lit(1).as("hit"))
      truth.join(approx, Seq("query_id", "neighbor_id"), "left")
        .groupBy(col("query_id"))
        .agg(count(lit(1)).cast("int").as("n_true"),
          count(col("hit")).cast("int").as("n_hits"))
        .withColumn("nprobe", lit(np))
    }.reduce(_ unionByName _)
      .withColumn("recall_bp",
        expr("CAST((n_hits * 10000) DIV n_true AS BIGINT)"))
      .select(col("nprobe"), col("query_id"), col("n_true"),
        col("n_hits"), col("recall_bp"))
      .orderBy(col("nprobe"), col("query_id"))
  }

  /** s21 — PQ CODEBOOK DISTORTION audit: per (subspace, codebook
    * centroid), occupancy + mean squared reconstruction error of the
    * vectors that encode to it — the codebook-health report every
    * PQ deployment reads next to s18's cell occupancy and s09's
    * recall (the faiss-style index stats: DEAD codes mean wasted
    * code space and a stale training sample; high-distortion codes
    * mean the quantizer no longer fits the data and s05/s06's
    * ranking error grows — either is the retrain trigger).
    *
    * Code assignment is EXACTLY s05's float-space argmin (this
    * audits the stored encoding, not a re-derived one); the error is
    * measured in the engine's milli-quantized integer space (the
    * s15/t33 recipe: floor(x·1000) per component, so the aggregate
    * is exact integer arithmetic both engines replay — a float MSE
    * sum would diverge cross-engine in the addition order). err =
    * |mv|² + |mc|² − 2·mv·mc with every dot a 0L-seeded HOF fold the
    * LongVecDot rewrite compiles (plan-asserted); units are milli²
    * ("mu", 10⁻⁶ of squared component units).
    *
    * Scale shape: ONE corpus scan (the subspace explode ×
    * broadcast 64-row codebook, an equi-join on j) collapses through
    * a struct-argmin partial/final aggregate to one row per
    * (vector, subspace), then a map-combinable (j, cid) count/sum —
    * output is one row per codebook entry (≤ nSub·K at any corpus
    * size; a seed cell that loses all members during the k-means
    * rounds leaves the codebook itself), and the codebook LEFT join
    * keeps FINAL-dead codes visible — entries still in the codebook
    * that no vector encodes to after the last refinement, exactly
    * the wasted-code-space signal (an inner join would hide the
    * failure the report catches — s18's lesson).
    */
  def pqDistortion(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val centJ = graft.operators.VectorAgg.pqCodebook(s, dir, PqSub, PqSubLen)
    val subVec = e
      .select(col("vec_id"), explode(array((0 until PqSub).map(j =>
        struct(lit(j).as("j"),
          slice(col("embedding"), j * PqSubLen + 1, PqSubLen).as("sv"))): _*))
        .as("b"))
      .select(col("vec_id"), col("b.j").as("j"), col("b.sv").as("sv"))
    val vm = subVec
      .withColumn("mv", expr(
        "transform(sv, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .withColumn("nv", expr("aggregate(mv, 0L, (a, x) -> a + x * x)"))
    val cm = centJ
      .withColumn("mc", expr(
        "transform(scv, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"))
      .withColumn("nc", expr("aggregate(mc, 0L, (a, x) -> a + x * x)"))
    val chosen = vm.join(broadcast(cm), "j")
      .withColumn("d2", Vector.dot(col("scv"), col("scv"))
        - lit(2.0) * Vector.dot(col("sv"), col("scv")))
      .withColumn("dotm",
        expr("aggregate(zip_with(mv, mc, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
      .withColumn("err", col("nv") + col("nc") - lit(2L) * col("dotm"))
      .groupBy(col("vec_id"), col("j"))
      .agg(min(struct(col("d2"), col("cid"), col("err"))).as("m"))
      .select(col("j"), col("m.cid").as("cid"), col("m.err").as("err"))
    val st = chosen.groupBy(col("j"), col("cid"))
      .agg(count(lit(1)).cast("long").as("n_vecs"),
        sum(col("err")).cast("long").as("sum_err"))
    val tot = st.groupBy(col("j"))
      .agg(sum(col("n_vecs")).cast("long").as("n_j"))
    centJ.select(col("j"), col("cid"))
      .join(st, Seq("j", "cid"), "left")
      .join(tot, Seq("j"))
      .select(col("j"), col("cid"),
        coalesce(col("n_vecs"), lit(0L)).as("n_vecs"),
        expr("CAST(coalesce(n_vecs, 0) * 10000 DIV n_j AS BIGINT)")
          .as("share_bp"),
        expr("CAST(coalesce(sum_err, 0) DIV greatest(coalesce(n_vecs, 0), 1)" +
          " AS BIGINT)").as("mse_mu"),
        (coalesce(col("n_vecs"), lit(0L)) === 0L).as("dead"))
      .orderBy(col("j"), col("cid"))
  }

  /** s10 — radius (range) search: every corpus vector within a fixed
    * cosine radius of each query (floor-bp threshold, default
    * cos ≥ 0.20) — the OTHER primitive every vector store exposes
    * beside top-k: "all matches above a similarity bar", the shape
    * retrieval-augmented filtering and near-match sweeps use when the
    * result count must be data-driven, not fixed at k.
    *
    * Scale shape: identical to s01 — the fixed ≤9-row query set
    * broadcasts, the corpus streams ONCE with no shuffle (the
    * threshold filter runs inside the scan's projection, so unlike
    * top-k there is no rank window at all — radius search is
    * strictly cheaper than brute top-k). Output volume is the
    * data-dependent part: |{cos ≥ τ}| per query, which for a fixed τ
    * grows linearly with the corpus — the caller picks τ to bound
    * it, exactly as a production store does.
    */
  def rangeSearch(s: SparkSession, dir: String, thresholdBp: Long = 2000L): DataFrame = {
    val (q, e) = queriesAndCorpus(s, dir)
    e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_bp", floor(pairCosine * 10000).cast("long"))
      .filter(col("cos_bp") >= thresholdBp)
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cos_bp"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  /** s11 — MMR diversity re-rank (Carbonell & Goldstein 1998,
    * "maximal marginal relevance"): greedily select 3 results per
    * query from the brute-force top-10 candidate pool, each pick
    * maximizing λ·relevance − (1−λ)·max-similarity-to-already-selected
    * — the de-duplicating re-rank every production retrieval stack
    * runs so the top results aren't three near-copies of one hit.
    * λ = 0.7 in integer tenths: mmr = 7·rel_bp − 3·max_sim_bp, ties
    * break on candidate id — integer-exact cross-engine (the oracle
    * replays the three greedy rounds CTE-for-CTE).
    *
    * Scale shape: the ONLY corpus-sized work is the candidate stage —
    * s01's broadcast-query scan + bounded TopKPerKey (≤10·|Q| rows
    * survive). Everything after operates on that constant-size pool:
    * the pairwise-sim self-join is ≤ 90·|Q| rows, each greedy round a
    * bounded struct-min — at 100 TB the re-rank costs the same as at
    * 1 GB. In production the pool comes from the ANN index (s07's
    * refine output slots in verbatim); brute force here keeps the
    * oracle composable.
    */
  /** s11's candidate pool: brute-force top-10 per fixed query —
    * ≤ 10·|Q| rows at ANY corpus size (the scale harness measures the
    * constancy; everything after the pool is corpus-independent).
    */
  private[graft] def mmrPool(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val (q, e) = queriesAndCorpus(s, dir)
    val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos", pairCosine)
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("vec_id").asc), 10)
      .select(col("query_id"), col("vec_id").as("cid"),
        floor(col("cos") * 10000).cast("long").as("rel_bp"))
  }

  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val pool0 = mmrPool(s, dir)
    val ev = Tables.embeddings(s, dir)
      .select(col("vec_id").as("cid"), col("embedding").as("cv"),
        Vector.norm(col("embedding")).as("cn"))
    // ≤10·|Q| rows; feeds the sims self-join and all three rounds.
    // Every post-pool frame here is bounded by |Q|·10 rows AT ANY
    // CORPUS SIZE, so the bounded side carries an explicit broadcast
    // hint — the static planner otherwise sort-merge-joined them
    // (statless derived frames), shuffling the corpus-sized ev by cid
    // for a ≤90-row probe.
    val pool = broadcast(pool0).join(ev, Seq("cid")).cache()
    val sims = pool.as("x").join(broadcast(pool).as("y"),
        col("x.query_id") === col("y.query_id")
          && col("x.cid") =!= col("y.cid"))
      .select(col("x.query_id").as("sq"), col("x.cid").as("sc"),
        col("y.cid").as("ss"),
        floor(Vector.dot(col("x.cv"), col("y.cv"))
          / (col("x.cn") * col("y.cn")) * 10000).cast("long").as("sim_bp"))
      .cache() // feeds rounds 2 and 3
    // deterministic greedy argmax: bounded struct-min, never a sort
    def pick(df: DataFrame, score: Column, idOut: String, mmrOut: String) =
      df.groupBy(col("query_id"))
        .agg(min(struct((-score).as("ns"), col("cid").as("c"))).as("t"))
        .select(col("query_id"), col("t.c").as(idOut),
          (-col("t.ns")).cast("long").as(mmrOut))
    val s1 = pick(pool, col("rel_bp") * 7, "s1", "mmr1").cache()
    val m2 = pool.join(broadcast(s1), Seq("query_id"))
      .filter(col("cid") =!= col("s1"))
      .join(broadcast(sims), col("sq") === col("query_id")
        && col("sc") === col("cid") && col("ss") === col("s1"))
      .select(col("query_id"), col("cid"),
        (col("rel_bp") * 7 - col("sim_bp") * 3).as("mmr"))
    val s2 = pick(m2, col("mmr"), "s2", "mmr2")
    val sel = s1.join(broadcast(s2), Seq("query_id")).cache() // feeds pen + m3
    val pen = sims.join(broadcast(sel), col("sq") === col("query_id")
        && (col("ss") === col("s1") || col("ss") === col("s2")))
      .groupBy(col("sq"), col("sc"))
      .agg(max(col("sim_bp")).as("pen"))
    val m3 = pool.join(broadcast(sel), Seq("query_id"))
      .filter(col("cid") =!= col("s1") && col("cid") =!= col("s2"))
      .join(broadcast(pen), col("sq") === col("query_id")
        && col("sc") === col("cid"))
      .select(col("query_id"), col("cid"),
        (col("rel_bp") * 7 - col("pen") * 3).as("mmr"))
    val s3 = pick(m3, col("mmr"), "s3", "mmr3")
    s1.select(col("query_id"), lit(1).as("rn"),
        col("s1").as("neighbor_id"), col("mmr1").as("mmr_units"))
      .union(s2.select(col("query_id"), lit(2).as("rn"),
        col("s2").as("neighbor_id"), col("mmr2").as("mmr_units")))
      .union(s3.select(col("query_id"), lit(3).as("rn"),
        col("s3").as("neighbor_id"), col("mmr3").as("mmr_units")))
      .orderBy(col("query_id"), col("rn"))
  }

  /** s12 — FILTERED vector search (the metadata-predicate ANN every
    * production vector store ships): top-3 cosine restricted to
    * corpus vectors sharing the query's label — the PRE-FILTER
    * strategy, where the predicate runs inside the scan before any
    * scoring, so selectivity directly cuts the scored volume (the
    * post-filter alternative scores first and risks k starvation when
    * the filter is selective; pre-filter is exact at any
    * selectivity). The label equality joins the broadcast query
    * slice as a plain equi-key — unlike s01's all-pairs scan this
    * plans a BroadcastHashJoin, strictly cheaper; at 100 TB the label
    * becomes a partition key and the scan prunes to matching
    * partitions before reading a byte.
    */
  def annFiltered(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label"),
        Vector.norm(col("embedding")).as("nrm"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("label").as("qlabel"))
    val scored = e.join(broadcast(q),
        col("label") === col("qlabel") && col("vec_id") =!= col("query_id"))
      .withColumn("cos", pairCosine)
    rankTopK(s, scored, 3)
  }

  /** s13's fixed keyword queries (qid, term) — the constant query
    * set, matching the annQueryIds rule: total work O(corpus)·|Q|.
    */
  val bm25Queries: Seq[(String, String)] = Seq(
    "q1" -> "hash", "q1" -> "join", "q1" -> "spark",
    "q2" -> "window", "q2" -> "agg", "q2" -> "stream",
    "q3" -> "fast", "q3" -> "vector", "q3" -> "scan")

  /** s13 — BM25 keyword retrieval (the Lucene/Elasticsearch scoring
    * function, Robertson & Zaragoza 2009): the LEXICAL half of a
    * hybrid RAG stack, top-10 docs per fixed keyword query. The whole
    * score is INTEGER-RATIONAL so the oracle replays it exactly — no
    * float ln/division anywhere: idf_milli = 1000·(N+1) DIV (df+1)
    * (t09's surrogate-idf precedent), and with k1 = 6/5, b = 3/4 the
    * term score multiplies through to
    * idf_milli·44·tf·T DIV (20·T·tf + 6·T + 18·len·N), T = corpus
    * token total, N = doc count (both from one map-combinable pass).
    * Magnitude bound: the numerator stays < 2^63 while
    * idf_milli·tf·T < 2^57 — at corpus sizes where T approaches 2^40,
    * rescale T/N to kilo-token units first (documented knob).
    *
    * Scale shape: the corpus-sized work is ONE token-filter scan
    * (term IN fixed-vocab pushes into the scan) + a (doc, term)
    * map-combinable count — in production the tf frame IS the
    * posting-list probe of a term-bucketed table (TableSink's
    * bucketing story); df/totals are K-row/1-row broadcasts; the
    * final rank is bounded TopKPerKey, never a corpus window.
    */
  /** s13's per-doc term frequencies over the fixed query vocab — the
    * posting-list probe (the term filter pushes into the scan). */
  private[graft] def bm25Tf(docsTokens: DataFrame): DataFrame = {
    val vocab = bm25Queries.map(_._2).distinct
    docsTokens.select(col("doc_id"), explode(col("t")).as("term"))
      .filter(col("term").isin(vocab: _*))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
  }

  /** s13's scoring stage, shared with the streaming percolator
    * (streaming.PercolateStream scores arriving batches against
    * FROZEN lake stats through this exact code path — parity by
    * construction). Inputs: tf (doc, term, tf), dl (doc, len),
    * dft (term, df), tot 1-row (nn, tt).
    */
  private[graft] def bm25ScoredPairs(s: SparkSession, tf: DataFrame,
      dl: DataFrame, dft: DataFrame, tot: DataFrame): DataFrame = {
    import s.implicits._
    val q = bm25Queries.toDF("qid", "term")
    tf.join(broadcast(q), Seq("term"))
      .join(dft, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(tot))
      .withColumn("idf_milli",
        expr("CAST(1000 * (nn + 1) DIV (df + 1) AS BIGINT)"))
      .withColumn("term_score", expr(
        "CAST(idf_milli * 44 * tf * tt DIV" +
          " (20 * tt * tf + 6 * tt + 18 * len * nn) AS BIGINT)"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(sum(col("term_score")).cast("long").as("score_milli"))
  }

  def bm25Search(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), Text.tokens(col("text")).as("t"))
    // doc lengths feed the totals AND the score join — cache
    val dl = docs.select(col("doc_id"), size(col("t")).cast("long").as("len"))
      .cache()
    val tot = dl.agg(count(lit(1)).cast("long").as("nn"),
      sum(col("len")).cast("long").as("tt"))
    // tf feeds the df aggregate AND the scoring join — cache
    val tf = bm25Tf(docs).cache()
    val dft = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val scored = bm25ScoredPairs(s, tf, dl, dft, tot)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score_milli").desc, col("doc_id"))
    graft.plans.TopK.perKey(scored, Seq(col("qid")),
        Seq(col("score_milli").desc, col("doc_id").asc), k)
      .withColumn("rn", row_number().over(w).cast("int"))
      .select(col("qid"), col("rn"), col("doc_id"), col("score_milli"))
      .orderBy(col("qid"), col("rn"))
  }

  /** s14 — Reciprocal Rank Fusion over two index families (Cormack
    * et al. 2009; the fusion Elasticsearch/OpenSearch ship for hybrid
    * search): fuse s02's (LSH) and s03's (IVF) ranked lists per query
    * by rrf = Σ 10000 DIV (60 + rank) — the standard k=60 constant,
    * integer from the first division, so the oracle replays exactly.
    * A neighbor surfaced by BOTH indexes outranks one surfaced by
    * either alone — the retriever-ensemble robustness trick: each
    * index's blind spots (LSH bucket edges, IVF cell boundaries) are
    * uncorrelated, so fusion recovers what one family drops.
    *
    * Scale shape: both inputs are already-bounded top-3 lists
    * (≤ 3·|Q| rows each); the fusion is one full-outer key-equality
    * join on (query, neighbor) + a bounded TopKPerKey — everything
    * after the index scans is corpus-independent.
    */
  def rrfFusion(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    // unsorted family bodies: the fusion re-ranks under its own TopK,
    // so inheriting the contract sorts would only buy range exchanges
    val a = annLshFrame(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("rank_a"))
    val b = annIvfFrame(s, dir)
      .select(col("query_id"), col("neighbor_id"), col("rn").as("rank_b"))
    val fused = a.join(b, Seq("query_id", "neighbor_id"), "full")
      .select(col("query_id"), col("neighbor_id"), expr(
        "CAST(coalesce(10000 DIV (60 + rank_a), 0)" +
          " + coalesce(10000 DIV (60 + rank_b), 0) AS BIGINT)")
        .as("rrf_milli"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf_milli").desc, col("neighbor_id"))
    graft.plans.TopK.perKey(fused, Seq(col("query_id")),
        Seq(col("rrf_milli").desc, col("neighbor_id").asc), k)
      .withColumn("rn", row_number().over(w).cast("int"))
      .select(col("query_id"), col("rn"), col("neighbor_id"),
        col("rrf_milli"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** The lexical-recall candidate frame of s04 — factored out so the
    * scale harness can measure candidate volume directly. With the
    * fixed query set, candidates per query depend on shingle overlap
    * with that query's content, NOT on corpus size: on content-disjoint
    * inflation the count stays ~constant (ScaleSpec asserts it).
    */
  def hybridCandidates(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // shingles of the FIXED ≤9-doc query slice — constant-size, so
    // broadcasting it prunes the corpus-side explode to the
    // query-shingle slice BEFORE any shuffle. The old formulation
    // paid a corpus-wide distinct + a global df groupBy over every
    // shingle (1.3M rows at sf0.1) only to keep the ≤9 docs' worth:
    // candidate semantics are unchanged (df counted over the FULL
    // corpus for each surviving shingle — the semi-join keeps every
    // corpus occurrence of a query shingle), result row-identical.
    val qsh = Dedup.shinglesOf(
        docs.filter(col("doc_id").isin(annQueryIds: _*)))
      .select(col("doc_id").as("query_id"), col("shingle"))
    val qShingles = qsh.select(col("shingle")).distinct()
    val shq = Dedup.shinglesRawOf(docs)
      .join(broadcast(qShingles), "shingle")
      .distinct()
    val rareQ = shq.groupBy(col("shingle")).agg(count(lit(1)).as("df"))
      .filter(col("df") <= 1000).select(col("shingle"))
    shq.join(broadcast(rareQ), "shingle")
      .join(broadcast(qsh), Seq("shingle"))
      .filter(col("doc_id") =!= col("query_id"))
      .select(col("query_id"), col("doc_id")).distinct()
  }

  /** s05 — product-quantization ANN: vectors are compressed to 4
    * one-byte codes (nearest per-subspace centroid over 16-dim
    * slices; codebooks = K=16 deterministic k-means per subspace,
    * VectorAgg.pqCodebook — K a free parameter, oracle-replicable)
    * and queries scan
    * the CODES, not the vectors, ranking by asymmetric distance
    * (|q_j|² + |c_j|² − 2·q_j·c_j summed over subspaces, fixed
    * left-to-right association so both engines add in the same
    * order). This is the memory-side scale path: at 100 TB the code
    * table is 16× smaller than the float corpus and the per-candidate
    * cost is 4 codebook lookups — the scan is embarrassingly parallel
    * with no shuffle on the corpus. Top-3 per query via TopKPerKey.
    */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val nSub = 4
    val subLen = 16
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val centJ = graft.operators.VectorAgg.pqCodebook(s, dir, nSub, subLen)
    val subVec = e
      .select(col("vec_id"), explode(array((0 until nSub).map(j =>
        struct(lit(j).as("j"),
          slice(col("embedding"), j * subLen + 1, subLen).as("sv"))): _*)).as("b"))
      .select(col("vec_id"), col("b.j").as("j"), col("b.sv").as("sv"))
    // encode: argmin ||sv − scv||² ≡ argmin (|scv|² − 2·sv·scv),
    // as a struct-argmin aggregation (min over (d2, cid) = the same
    // (d2 asc, cid asc) tie-break a rank window would apply) fused
    // with the j-pivot: ONE map-side-combinable shuffle of 1-row
    // partials per vector, where the window formulation shuffled the
    // full 16× centroid fan-out and then aggregated again
    val codes = subVec.join(broadcast(centJ), "j")
      .withColumn("d2", Vector.dot(col("scv"), col("scv"))
        - lit(2.0) * Vector.dot(col("sv"), col("scv")))
      .groupBy(col("vec_id"))
      .agg(min(when(col("j") === 0, struct(col("d2"), col("cid"))))
          .getField("cid").as("code0"),
        (1 until nSub).map(j =>
          min(when(col("j") === j, struct(col("d2"), col("cid"))))
            .getField("cid").as(s"code$j")): _*)
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id") +: (0 until nSub).map(j =>
        slice(col("embedding"), j * subLen + 1, subLen).as(s"qv$j")): _*)
    var scan = codes.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
    (0 until nSub).foreach { j =>
      val cj = centJ.filter(col("j") === j)
        .select(col("cid").as(s"code$j"), col("scv").as(s"cv$j"))
      scan = scan.join(broadcast(cj), s"code$j")
    }
    val adc = (0 until nSub).map { j =>
      Vector.dot(col(s"qv$j"), col(s"qv$j")) +
        Vector.dot(col(s"cv$j"), col(s"cv$j")) -
        lit(2.0) * Vector.dot(col(s"qv$j"), col(s"cv$j"))
    }.reduceLeft(_ + _)
    val scored = scan.withColumn("adc", adc)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(col("adc").asc, col("vec_id").asc), 3)
      .withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("rn"), col("vec_id").as("neighbor_id"),
        floor(col("adc") * 1000).cast("long").as("adc_milli"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** The IVF-PQ candidate scan shared by s06 and s07: every
    * (query_id, vec_id) pair inside the query's 2 probed cells,
    * scored by asymmetric PQ distance (`adc`). s06 ranks this
    * directly; s07 re-ranks its top candidates by exact cosine.
    */
  private def ivfPqScored(s: SparkSession, dir: String): DataFrame = {
    // IVF assignment — the shared top-2-cells ranking (s03's)
    val asg = cellAssignments(s, dir)
    val centJ = graft.operators.VectorAgg.pqCodebook(s, dir, PqSub, PqSubLen)
    ivfPqScoreOf(pqCellCodesOf(asg, centJ), centJ, pqProbesOf(asg))
  }

  private[graft] val PqSub = 4
  private[graft] val PqSubLen = 16

  /** The STORED artifact of s06's layout: `(vec_id, cell, code0..3)`
    * — every rr=1 cell member's PQ codes against `centJ`, tagged with
    * its IVF cell so a probe scan prunes on it. Built from an
    * explicit assignment frame so the inline query and the persisted
    * IndexStore build share one construction.
    */
  private[graft] def pqCellCodesOf(asg: DataFrame,
      centJ: DataFrame): DataFrame = {
    val cells = asg.filter(col("rr") === 1)
      .select(col("vec_id"), col("embedding"), col("cid"))
    val subVec = cells.select(col("vec_id"), col("cid").as("cell"),
        explode(array((0 until PqSub).map(j =>
          struct(lit(j).as("j"),
            slice(col("embedding"), j * PqSubLen + 1, PqSubLen).as("sv"))): _*))
          .as("b"))
      .select(col("vec_id"), col("cell"), col("b.j").as("j"), col("b.sv").as("sv"))
    // struct-argmin encode fused with the j-pivot — see annPq
    subVec.join(broadcast(centJ), "j")
      .withColumn("d2", Vector.dot(col("scv"), col("scv"))
        - lit(2.0) * Vector.dot(col("sv"), col("scv")))
      .groupBy(col("vec_id"), col("cell"))
      .agg(min(when(col("j") === 0, struct(col("d2"), col("cid"))))
          .getField("cid").as("code0"),
        (1 until PqSub).map(j =>
          min(when(col("j") === j, struct(col("d2"), col("cid"))))
            .getField("cid").as(s"code$j")): _*)
  }

  /** The query side of the s06 scan: each query's top-2 probe cells
    * with its subspace slices — from any assignment frame covering
    * the queries (full-corpus inline, or query-only against stored
    * centroids in the IndexStore probe; assignment is per-vector
    * independent, so the rows are identical).
    */
  private[graft] def pqProbesOf(asg: DataFrame): DataFrame =
    asg.filter(isQuery && col("rr") <= 2)
      .select(Seq(col("vec_id").as("query_id"), col("cid").as("cell")) ++
        (0 until PqSub).map(j =>
          slice(col("embedding"), j * PqSubLen + 1, PqSubLen).as(s"qv$j")): _*)

  /** The ADC scan over explicit codes / codebook / probe frames —
    * shared verbatim by the inline s06/s07 and the persisted-index
    * probe.
    */
  private[graft] def ivfPqScoreOf(codes: DataFrame, centJ: DataFrame,
      q: DataFrame): DataFrame = {
    var scan = codes.join(broadcast(q), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
    (0 until PqSub).foreach { j =>
      val cj = centJ.filter(col("j") === j)
        .select(col("cid").as(s"code$j"), col("scv").as(s"cv$j"))
      scan = scan.join(broadcast(cj), s"code$j")
    }
    val adc = (0 until PqSub).map { j =>
      Vector.dot(col(s"qv$j"), col(s"qv$j")) +
        Vector.dot(col(s"cv$j"), col(s"cv$j")) -
        lit(2.0) * Vector.dot(col(s"qv$j"), col(s"cv$j"))
    }.reduceLeft(_ + _)
    scan.withColumn("adc", adc)
  }

  /** s06 recomputed as a PROBE of the persisted layout: queries rank
    * against the stored coarse centroids, their probe cells become a
    * static `cell IN` partition filter on the cell-partitioned PQ
    * code table, and the ADC scan touches codes alone — the exact
    * 100 TB shape the s06 Scaladoc promises (cell id = partition key,
    * codes = the only per-vector bytes the scan reads). Output-
    * identical to [[annIvfPq]].
    */
  private[graft] def annIvfPqProbe(s: SparkSession, dir: String,
      idxDir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val cent = s.read.parquet(s"$idxDir/centroids")
    val centJ = s.read.parquet(s"$idxDir/codebook")
    val qs = Tables.embeddings(s, dir).filter(isQuery)
      .select(col("vec_id"), col("embedding"))
    val q = pqProbesOf(cellAssignmentsOf(s, qs, cent))
    val codes = graft.sources.PartitionPrune.filterByKeys(
      s.read.parquet(s"$idxDir/pqcodes"), "cell", q.select(col("cell")))
    rankAdc(s, ivfPqScoreOf(codes, centJ, q))
  }

  /** The s06 ADC rank tail — shared by [[annIvfPq]] and the persisted
    * probe so the two orderings cannot drift.
    */
  private def rankAdc(s: SparkSession, scored: DataFrame): DataFrame =
    rankAdcFrame(s, scored).orderBy(col("query_id"), col("rn"))

  /** rankAdc's unsorted body (the factored-body rule — s09). */
  private def rankAdcFrame(s: SparkSession, scored: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(col("adc").asc, col("vec_id").asc), 3)
      .withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("rn"), col("vec_id").as("neighbor_id"),
        floor(col("adc") * 1000).cast("long").as("adc_milli"))
  }

  /** s06 — IVF-PQ: the production ANN composition. The IVF stage
    * (s03's cell assignment, nprobe=2) restricts candidates to ~2/K
    * of the corpus; the PQ stage (s05's 4-code compression) scores
    * those candidates from codes alone. At 100 TB this is the layout
    * every vector store ships: cell id = partition key, codes = the
    * only per-vector bytes the scan touches, full vectors never leave
    * their partition. Top-3 per query by ADC via TopKPerKey.
    */
  def annIvfPq(s: SparkSession, dir: String): DataFrame =
    rankAdc(s, ivfPqScored(s, dir))

  /** s06's unsorted body (the factored-body rule — s09). */
  private[graft] def annIvfPqFrame(s: SparkSession, dir: String): DataFrame =
    rankAdcFrame(s, ivfPqScored(s, dir))

  /** s07 — ANN with exact re-ranking: the production retrieval
    * composition every vector store ships as its accuracy lever. The
    * IVF-PQ scan (s06's candidate stage — codes-only, cell-pruned)
    * nominates the top-10 candidates per query by asymmetric PQ
    * distance; only those ≤10·|Q| rows rejoin the full float vectors
    * for an exact cosine, and the final top-3 is ranked on the exact
    * score. At 100 TB the full vectors are touched for a few dozen
    * rows per query instead of the whole corpus — the refine join is
    * a key-equality probe into the (bucketed) embeddings table, and
    * PQ quantization error can no longer reorder the head of the
    * result list.
    */
  def annRefine(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val cand = graft.plans.TopK.perKey(
        ivfPqScored(s, dir).select(col("query_id"), col("vec_id"), col("adc")),
        Seq(col("query_id")), Seq(col("adc").asc, col("vec_id").asc), 10)
      .select(col("query_id"), col("vec_id"))
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"),
        Vector.norm(col("embedding")).as("nrm"))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"))
    val exact = cand.join(e, "vec_id").join(broadcast(q), "query_id")
      .withColumn("cos", pairCosine)
    rankTopK(s, exact, 3)
  }

  /** s03 — IVF-style ANN (coarse quantization) with REAL k-means
    * centroids: K = [[coarseK]] cells from the deterministic K-free
    * clusterer (VectorAgg.kmeansCentroids — milli-floored means, no
    * RNG, so the oracle rebuilds bit-identical centroids CTE-for-CTE;
    * the d12 machinery). Corpus vectors are assigned to their nearest
    * centroid's cell; a query probes its top-2 cells (the standard
    * nprobe>1 recall lever). At 100 TB the cell id is the partition
    * key: the assignment pass is one broadcast scan (centroids are
    * tiny) and each query touches ~nprobe/K of the corpus — with K
    * GROWING as ⌈√n⌉, per-probe work is ~nprobe·√n vectors,
    * SUBLINEAR in the corpus (r11 verdict item 1: the 10 pinned
    * label centroids made probe work ∝ n/10, linear; r12 #1: K=n/50
    * fixed probes but made the BUILD Θ(n²/50) — the √n rule plus
    * sampled training balances both ends). Top-3 in probed cells.
    */
  /** K(n) for the IVF coarse layer: Dedup.semanticK's max(10, ⌈√n⌉)
    * — the same integer rule d12 replays in SQL, shared so the two
    * cell structures can never drift in scale behavior.
    */
  def coarseK(n: Long): Int = Dedup.semanticK(n)

  private[graft] val coarseMemo =
    new graft.SessionMemo[(SparkSession, String), DataFrame](
      df => { df.unpersist(); () })

  /** The coarse IVF centroid table (cid, cv): deterministic k-means
    * with K = [[coarseK]](n), TRAINED on the min(n, 16·K)-vector
    * salted-md5 sample (VectorAgg.kmeansCentroidsSampled — the r12
    * verdict #1 fix: linear training, √n centroids). Memoized per
    * (session, dir) — every s03-family query, the recall/health
    * audits and the IndexStore build reuse ONE materialized K-row
    * frame instead of re-running the clusterer per query
    * (kmeansCentroids caches and materializes its output before
    * returning).
    */
  def coarseCentroids(s: SparkSession, dir: String): DataFrame =
    coarseMemo.getOrElseUpdate((s, dir), {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val n = nVecs(s, dir)
      graft.operators.VectorAgg.kmeansCentroidsSampled(s, emb, n,
        coarseK(n))
    })

  private[graft] val coarseAssignMemo =
    new graft.SessionMemo[(SparkSession, String), DataFrame](
      df => { df.unpersist(); () })

  /** Memoized full-corpus nearest-centroid (L2 argmin) assignment
    * against [[coarseCentroids]] — the shared input of the
    * d12/c02/c04 cell family (each previously re-ran the broadcast
    * argmin scan per query). Same lifecycle as cellsMemo.
    */
  def coarseAssign(s: SparkSession, dir: String): DataFrame =
    coarseAssignMemo.getOrElseUpdate((s, dir), {
      val emb = Tables.embeddings(s, dir)
        .select(col("vec_id"), col("embedding"))
      val df = graft.operators.VectorAgg
        .kmeansAssign(emb, coarseCentroids(s, dir)).cache()
      df.count() // materialize: the first family query pays the scan once
      df
    })

  /** Centroid-cell ranking per vector: the TOP-2 (vec_id, cid) pairs
    * with `ccos` (cosine to that centroid) and `rr` (rank of the cell
    * for that vector; rr=1 is the IVF cell assignment, rr=2 the
    * second probe cell — no consumer looks deeper). Centroids are the
    * [[coarseK]] milli-floored k-means centroids ([[coarseCentroids]]),
    * broadcast — one scan of the corpus. Shared by s03/s06/s07.
    * The K-way centroid fan-out is trimmed to 2 rows per vector
    * BEFORE the rank shuffle by TopKPerKey: each row carries the full
    * embedding array, so at 100 TB the window formulation would
    * shuffle K×n wide rows where this moves 2×n.
    */
  private[graft] val cellsMemo =
    new graft.SessionMemo[(SparkSession, String), DataFrame](
      df => { df.unpersist(); () })

  def cellAssignments(s: SparkSession, dir: String): DataFrame =
    // memoized per (session, dir) like coarseCentroids: the top-2
    // assignment table is THE shared layout artifact of the
    // s03/s06/s07/s09/s20/s24 family (IndexStore persists exactly
    // this at scale) — without the memo every family query re-ran
    // the corpus×K broadcast scan + TopKPerKey trim. ~2n rows
    // (embedding + 2 cells per vector); evicted on session stop /
    // replaceDir via SessionMemo.
    cellsMemo.getOrElseUpdate((s, dir), {
      val df = cellAssignmentsWith(s, dir, coarseCentroids(s, dir)).cache()
      df.count() // materialize: the first family query pays the scan once
      df
    })

  /** cellAssignments against an EXPLICIT (cid, cv) centroid table —
    * the K-as-a-parameter path: pass VectorAgg.kmeansCentroids(_, _,
    * k) to run the IVF cell structure with any cluster count instead
    * of the 10 label centroids the contract query pins.
    */
  def cellAssignmentsWith(s: SparkSession, dir: String,
      cent0: DataFrame): DataFrame =
    cellAssignmentsOf(s,
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      cent0)

  /** cellAssignmentsWith over an EXPLICIT (vec_id, embedding) frame —
    * lets streaming.VectorIngestStream assign arriving micro-batches
    * against the static centroid table through the identical plan.
    */
  def cellAssignmentsOf(s: SparkSession, e0: DataFrame,
      cent0: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val e = e0.select(col("vec_id"), col("embedding"),
      Vector.norm(col("embedding")).as("nrm"))
    val cent = cent0
      .select(col("cid"), col("cv"), Vector.norm(col("cv")).as("cnrm"))
    val wAsg = Window.partitionBy(col("vec_id"))
      .orderBy(col("ccos").desc, col("cid"))
    val scored = e.join(broadcast(cent), lit(true))
      .withColumn("ccos",
        Vector.dot(col("embedding"), col("cv")) / (col("nrm") * col("cnrm")))
    graft.plans.TopK.perKey(scored, Seq(col("vec_id")),
        Seq(col("ccos").desc, col("cid").asc), 2)
      .withColumn("rr", row_number().over(wAsg))
  }

  /** s08 — scalar-quantized (SQ8) ANN: the third quantization family
    * next to PQ (s05) and IVF-PQ (s06) — every production vector
    * store's memory ladder (float32 → SQ8 → PQ). Each dimension is
    * quantized independently to one byte against the corpus-wide
    * per-dimension [min, max] range (256 uniform cells); queries stay
    * float and rank candidates by asymmetric L2 distance to the
    * DEQUANTIZED corpus (cell midpoints, milli-floored so both
    * engines reconstruct bit-identical values — the pqCodebook
    * recipe). SQ8 keeps 4× memory compression with far less
    * distortion than PQ's 16× — the standard first rung when recall
    * matters.
    *
    * Scale: the range pass is one map-side-combinable aggregation to
    * a 64-element param row (broadcast); quantization is per-row
    * compute in a single scan — no shuffle, and at 100 TB the byte
    * codes are materialized once at ingest while queries pay 4×
    * less scan bandwidth. The ADC scan is the s05 shape: codes ×
    * (≤9 broadcast queries) → TopKPerKey, corpus never shuffles.
    * The array lambdas (zip_with) are CodegenFallback but stay
    * inside the one projection; the dot products ride FloatVecDot.
    */
  /** SQ8 quantization params of an (vec_id, embedding) frame: ONE
    * row holding the per-dimension [min, max] struct array (aligned
    * with the embedding positions — 64 elements, broadcast-safe at
    * any corpus size). Shared by s08 and streaming.VectorIngestStream
    * (where the param row is the STATIC artifact every arriving batch
    * encodes against).
    */
  def sq8Params(e: DataFrame): DataFrame = e
    .select(posexplode(col("embedding")).as(Seq("i0", "v")))
    .groupBy(col("i0")).agg(min(col("v")).as("mn"), max(col("v")).as("mx"))
    .groupBy()
    .agg(array_sort(collect_list(struct(col("i0"), col("mn"), col("mx"))))
      .as("pp"))
    .select(transform(col("pp"), p =>
      struct(p.getField("mn").as("mn"), p.getField("mx").as("mx"))).as("ps"))

  /** Per-dimension byte code of `v` against param struct `p`. */
  private[graft] def sq8Code(v: org.apache.spark.sql.Column,
      p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val mn = p.getField("mn").cast("double")
    val mx = p.getField("mx").cast("double")
    // clamped to [0, 255] BOTH ways: lake vectors sit inside the
    // trained [mn, mx] by construction (the lower clamp is a no-op
    // the oracle needn't replay), but an INGESTED batch outside the
    // trained range (EmbedStream's text vectors) must clip, not wrap
    when(mx > mn,
      greatest(least(floor(((v.cast("double") - mn) / (mx - mn)) * lit(256.0)),
        lit(255.0)), lit(0.0)).cast("long"))
      .otherwise(lit(0L))
  }

  /** Dequantized value = cell midpoint, milli-floored to FLOAT so
    * the oracle reconstructs the identical vector (pqCodebook recipe).
    */
  private[graft] def sq8Dequant(c: org.apache.spark.sql.Column,
      p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val mn = p.getField("mn").cast("double")
    val mx = p.getField("mx").cast("double")
    (floor((mn + (c.cast("double") + lit(0.5)) * (mx - mn) / lit(256.0))
      * 1000) / lit(1000.0)).cast("float")
  }

  /** (vec_id, codes) byte-code frame of `e` against `params` — the
    * materialize-at-ingest artifact (4× smaller than the float
    * corpus). Shared by the ingest stream.
    */
  def sq8Codes(e: DataFrame, params: DataFrame): DataFrame =
    e.crossJoin(broadcast(params))
      .select(col("vec_id"),
        zip_with(col("embedding"), col("ps"), sq8Code).as("codes"))

  def annSq8(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val (corpus, e) = sq8Corpus(s, dir)
    sq8Rank(s, corpus, e)
  }

  /** s08's unsorted body (the factored-body rule — s09). */
  private[graft] def annSq8Frame(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val (corpus, e) = sq8Corpus(s, dir)
    sq8RankFrame(s, corpus, e)
  }

  private def sq8Corpus(s: SparkSession,
      dir: String): (DataFrame, DataFrame) = {
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val params = sq8Params(e)
    val corpus = e.crossJoin(broadcast(params))
      .select(col("vec_id"),
        zip_with(zip_with(col("embedding"), col("ps"), sq8Code), col("ps"),
          sq8Dequant).as("dv"))
    (corpus, e)
  }

  /** The s08 ADC scan + rank over an explicit dequantized corpus
    * frame `(vec_id, dv)` — shared verbatim by the inline query and
    * the persisted-codes probe.
    */
  private[graft] def sq8Rank(s: SparkSession, corpus: DataFrame,
      e: DataFrame): DataFrame = {
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    sq8AdcRank(s, corpus.join(broadcast(q), col("vec_id") =!= col("query_id")))
  }

  /** sq8Rank's unsorted body (the factored-body rule — s09). */
  private def sq8RankFrame(s: SparkSession, corpus: DataFrame,
      e: DataFrame): DataFrame = {
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    sq8AdcRankFrame(s,
      corpus.join(broadcast(q), col("vec_id") =!= col("query_id")))
  }

  /** The SQ8 ADC scoring + top-3 rank tail over explicit (query_id,
    * qv, vec_id, dv) pairs — shared by s08 (full scan), s24 (cell-
    * pruned scan) and both persisted probes so the four orderings
    * cannot drift.
    */
  private[graft] def sq8AdcRank(s: SparkSession, pairs: DataFrame): DataFrame =
    sq8AdcRankFrame(s, pairs).orderBy(col("query_id"), col("rn"))

  /** sq8AdcRank's unsorted body (the factored-body rule — s09). */
  private def sq8AdcRankFrame(s: SparkSession, pairs: DataFrame): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val scored = pairs
      .withColumn("adc",
        Vector.dot(col("qv"), col("qv")) + Vector.dot(col("dv"), col("dv"))
          - lit(2.0) * Vector.dot(col("qv"), col("dv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("vec_id"))
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(col("adc").asc, col("vec_id").asc), 3)
      .withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("rn"), col("vec_id").as("neighbor_id"),
        floor(col("adc") * 1000).cast("long").as("adc_milli"))
  }

  /** (vec_id, cell, codes): the SQ8 byte codes tagged with the IVF
    * cell — the STORED artifact of s24's layout (IndexStore lands it
    * cell-PARTITIONED under `sq8codes/`). Built from an explicit
    * assignment frame so the inline query and the persisted build
    * share one construction.
    */
  private[graft] def sq8CellCodesOf(e: DataFrame, params: DataFrame,
      asg: DataFrame): DataFrame =
    sq8Codes(e, params)
      .join(asg.filter(col("rr") === 1)
        .select(col("vec_id"), col("cid").as("cell")), "vec_id")

  /** s24 — IVF-SQ8: the memory ladder's 4× rung WITH coarse pruning
    * (r11 verdict item 3). s08's scalar-quantized ADC scan restricted
    * to the query's 2 probed IVF cells (s03's coarse k-means
    * assignment): at 100 TB the cell id is the partition key over the
    * BYTE-CODE table, so a probe reads nprobe/K of a 4×-compressed
    * corpus and never touches a float vector — where s08 (full-scan
    * by design) pays bandwidth for the whole code table, s24 pays
    * nprobe/K of it, completing the pruned row of the quantization
    * ladder (s03 floats / s24 SQ8 / s06 PQ). Scoring, dequantization
    * and ordering are EXACTLY s08's (shared sq8AdcRank/sq8Dequant),
    * so s24's result is s08's ADC ranking computed over the probed
    * cells only.
    */
  def annIvfSq8(s: SparkSession, dir: String): DataFrame =
    sq8AdcRank(s, ivfSq8Pairs(s, dir))

  /** s24's unsorted body (the factored-body rule — s09). */
  private[graft] def annIvfSq8Frame(s: SparkSession, dir: String): DataFrame =
    sq8AdcRankFrame(s, ivfSq8Pairs(s, dir))

  private def ivfSq8Pairs(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val e = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val params = sq8Params(e)
    val asg = cellAssignments(s, dir)
    val corpus = sq8CellCodesOf(e, params, asg)
      .crossJoin(broadcast(params))
      .select(col("vec_id"), col("cell"),
        zip_with(col("codes"), col("ps"), sq8Dequant).as("dv"))
    val q = asg.filter(isQuery && col("rr") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cid").as("cell"))
    corpus.join(broadcast(q),
      corpus("cell") === q("cell") && col("vec_id") =!= col("query_id"))
  }

  /** s24 recomputed as a PROBE of the persisted layout: queries rank
    * against the stored coarse centroids, their probe cells become a
    * static `cell IN` partition filter on the cell-partitioned
    * `sq8codes/`, and the ADC scan dequantizes byte codes alone —
    * the 100 TB shape s24's Scaladoc promises. Output-identical to
    * [[annIvfSq8]].
    */
  private[graft] def annIvfSq8Probe(s: SparkSession, dir: String,
      idxDir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val cent = s.read.parquet(s"$idxDir/centroids")
    val params = s.read.parquet(s"$idxDir/sq8params")
    val qs = Tables.embeddings(s, dir).filter(isQuery)
      .select(col("vec_id"), col("embedding"))
    val qAsg = cellAssignmentsOf(s, qs, cent).filter(col("rr") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("cid").as("cell"))
    val corpus = graft.sources.PartitionPrune.filterByKeys(
        s.read.parquet(s"$idxDir/sq8codes"), "cell", qAsg.select(col("cell")))
      .crossJoin(broadcast(params))
      .select(col("vec_id"), col("cell"),
        zip_with(col("codes"), col("ps"), sq8Dequant).as("dv"))
    sq8AdcRank(s, corpus.join(broadcast(qAsg),
      corpus("cell") === qAsg("cell") && col("vec_id") =!= col("query_id")))
  }

  /** s08 recomputed as a PROBE of the persisted SQ8 codes: the scan
    * reads the stored byte-code table (4× smaller than the float
    * corpus — SQ8's whole point; NO partition pruning, the family is
    * a full-scan compression layer by design) and dequantizes against
    * the stored param row. Output-identical to [[annSq8]]: the stored
    * codes ARE the inline query's inner quantization.
    */
  private[graft] def annSq8Probe(s: SparkSession, dir: String,
      idxDir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val params = s.read.parquet(s"$idxDir/sq8params")
    val corpus = s.read.parquet(s"$idxDir/sq8codes")
      .crossJoin(broadcast(params))
      .select(col("vec_id"),
        zip_with(col("codes"), col("ps"), sq8Dequant).as("dv"))
    sq8Rank(s, corpus,
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
  }

  /** s15 — k-NN GRAPH construction over the corpus: every vector's
    * top-3 nearest neighbors among its sign-LSH candidates — the
    * index-build primitive under HNSW/NN-descent graphs and the
    * neighbor structure SemDeDup-style curation walks. Unlike the
    * s01–s14 queries (a fixed ≤9-id query set), this is the
    * ALL-vectors job — so the candidate stage must stay linear:
    * candidates come from d05's corpus-adaptive sign-LSH layout
    * ([[graft.operators.Dedup.adaptiveBands]] — bits grow with
    * ⌈log₂ n⌉, ScaleSpec-measured ~linear), generated DIRECTED in one
    * self-join (vec_a ≠ vec_b, both directions from the same
    * key-equality join — no union re-reference of the candidate
    * frame). Exact cosine ranks each vector's candidate list through
    * the bounded TopKPerKey (≤k rows per vector per partition cross
    * the shuffle). A vector whose buckets are all singletons emits no
    * rows (an isolated node — production runs an NN-descent round to
    * densify; the graph build cost is the artifact here). At 100 TB:
    * two embedding-table probes by key plus one bucket-keyed shuffle,
    * work ∝ candidates ∝ n·bands.
    *
    * Determinism contract: scores are cosines over MILLI-QUANTIZED
    * vectors (per-component floor(x·1000) BIGINT — the pqCodebook
    * float-pinning recipe): integer dot product and squared norms are
    * order-independent exact sums, and the final double division/sqrt
    * runs on identical integers in both engines, so ranks can never
    * straddle a float ulp (raw float cosine measurably flips a
    * floor(cos·10⁴) boundary on ~1 in 10⁴ candidate pairs). The
    * quantization error (~1e-3 per component) is far below any
    * meaningful neighbor gap; production graphs quantize harder than
    * this (SQ8/PQ) for memory alone.
    */
  def knnGraph(s: SparkSession, dir: String, k: Int = 3): DataFrame =
    knnGraphFrame(s, dir, k).orderBy(col("vec_id"), col("rn"))

  /** s15's unsorted edge frame — s16's pool expansion joins this
    * without inheriting the contract sort (a range exchange over the
    * n-row graph; the sessionFrame lesson).
    *
    * `srcIds` (a single-column `vec_id` frame) restricts the build to
    * the edges OUT OF those nodes: per-src top-k is independent
    * across srcs, so the restricted build returns exactly the full
    * graph's rows for those srcs. s16 probes ≤|seeds| nodes — at
    * 100 TB it reads the persisted graph by key; inline, the
    * broadcast semi-join shrinks the band join's left side to the
    * probed nodes before any pair is scored (r11: s16 was paying the
    * full n-node graph build for a ≤8-node probe).
    */
  private[graft] def knnGraphFrame(s: SparkSession, dir: String,
      k: Int = 3, srcIds: Option[DataFrame] = None): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val bands = Dedup.adaptiveBands(
      graft.TableStats.rowCount(s, dir, "embeddings")(emb.count()))
    rankEdges(knnEdges(s, emb, bands, k, srcIds))
  }

  /** Top-`k` directed kNN edges `(src, dst, cos)` of `emb` under an
    * EXPLICIT band layout — the composable core of s15, shared with
    * the streaming graph fold (GraphIngestStream freezes the lake's
    * band layout and calls this only at seed time; its per-batch
    * folds reuse [[bandKeysOf]]/[[scoreEdges]] on new pairs alone).
    */
  private[graft] def knnEdges(s: SparkSession, emb: DataFrame,
      bands: Seq[Seq[Int]], k: Int,
      srcIds: Option[DataFrame] = None): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    // directed candidate pairs in ONE self-join (no half-pair union)
    val keyed = bandKeysOf(emb, bands)
    val keyedSrc = srcIds.fold(keyed)(ids =>
      keyed.join(broadcast(ids.select(col("vec_id")).distinct()), "vec_id"))
    val cand = keyedSrc.select(col("vec_id").as("src"), col("band"), col("bucket"))
      .join(keyed.select(col("vec_id").as("dst"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
    graft.plans.TopK.perKey(scoreEdges(cand, emb), Seq(col("src")),
      Seq(col("cos").desc, col("dst").asc), k)
  }

  /** `(vec_id, band, bucket)` sign-LSH keys of `emb` under an explicit
    * band layout — one scan, all bands via explode.
    */
  private[graft] def bandKeysOf(emb: DataFrame,
      bands: Seq[Seq[Int]]): DataFrame = {
    val bandStructs = bands.zipWithIndex.map { case (dims, j) =>
      struct(lit(j).as("band"),
        Vector.signBucket(col("embedding"), dims).as("bucket"))
    }
    emb.select(col("vec_id"), explode(array(bandStructs: _*)).as("b"))
      .select(col("vec_id"), col("b.band").as("band"),
        col("b.bucket").as("bucket"))
  }

  /** Exact deterministic cosine of directed `(src, dst)` pairs scored
    * against `emb` in the milli-quantized integer space (the s15
    * determinism contract) — the 0L-seeded HOF folds rewrite to the
    * LongVecDot codegen kernel.
    */
  private[graft] def scoreEdges(cand: DataFrame, emb: DataFrame): DataFrame = {
    val e = milliQuantized(emb)
    val es = e.select(col("vec_id").as("src"), col("mq").as("sm"),
      col("nq").as("sn"))
    val ed = e.select(col("vec_id").as("dst"), col("mq").as("dm"),
      col("nq").as("dn"))
    cand.join(es, "src").join(ed, "dst")
      .withColumn("cos",
        expr("aggregate(zip_with(sm, dm, (x, y) -> x * y), 0L, (a, x) -> a + x)")
          .cast("double") / sqrt((col("sn") * col("dn")).cast("double")))
      .select(col("src"), col("dst"), col("cos"))
  }

  /** `(src, dst, cos)` top-k edges → the s15 contract shape
    * `(vec_id, rn, neighbor_id, cos_bp)`; shared by the inline build
    * and the persisted-graph recap read.
    */
  private[graft] def rankEdges(edges: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("src"))
      .orderBy(col("cos").desc, col("dst"))
    edges.withColumn("rn", row_number().over(w))
      .select(col("src").as("vec_id"), col("rn"),
        col("dst").as("neighbor_id"),
        floor(col("cos") * 10000).cast("long").as("cos_bp"))
  }

  /** (vec_id, mq, nq): per-component floor(x·1000) BIGINT vectors plus
    * their integer squared norm — the deterministic score space s15
    * and s16 rank in (integer sums are order-independent; the final
    * double division runs on identical integers in both engines).
    */
  private def milliQuantized(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))")
          .as("mq"))
      .withColumn("nq", expr("aggregate(mq, 0L, (a, x) -> a + x * x)"))

  /** s19 — HARD-NEGATIVE mining (r11): for every labeled anchor
    * vector, its top-`k` most-similar vectors with a DIFFERENT label —
    * the training-data prep every contrastive/embedding-model run
    * needs (triplet/InfoNCE batches are built from exactly these
    * "close but wrong-class" pairs; random negatives are too easy to
    * carry gradient, so miners rank in-batch or ANN candidates and
    * keep the hardest; cf. the mining step in FaceNet/Sentence-BERT
    * style pipelines).
    *
    * Scale shape: candidates are s15's sign-LSH band collisions
    * (d05's corpus-adaptive layout via [[graft.TableStats]] — work ∝
    * n·bands, never all-pairs), with the cross-label filter applied
    * by two thin key-equality label joins BEFORE any pair is scored
    * (same-label collisions — the majority inside a semantic bucket —
    * never reach the cosine stage). Scoring rides the s15
    * milli-quantized integer-cosine contract (LongVecDot kernel;
    * floor(cos·10⁴) never straddles a float ulp); top-`k` per anchor
    * through the bounded TopKPerKey (≤k rows/anchor/partition cross
    * the shuffle). The hardest negatives are exactly the collisions
    * sign-LSH surfaces — vectors in the same semantic bucket with a
    * different label — so the banded candidate set IS the miner's
    * working set, not an approximation shortcut.
    */
  def hardNegatives(s: SparkSession, dir: String, k: Int = 2): DataFrame =
    hardNegativesFrame(s, dir, k).orderBy(col("vec_id"), col("rn"))

  /** s19's unsorted body (the factored-body rule). */
  private[graft] def hardNegativesFrame(s: SparkSession, dir: String,
      k: Int = 2): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    val bands = Dedup.adaptiveBands(
      graft.TableStats.rowCount(s, dir, "embeddings")(emb.count()))
    val lbl = emb.select(col("vec_id"), col("label"))
    val cand = hardNegativeCandidates(emb, bands)
    val ranked = rankEdges(graft.plans.TopK.perKey(
      scoreEdges(cand, emb.select(col("vec_id"), col("embedding"))),
      Seq(col("src")), Seq(col("cos").desc, col("dst").asc), k))
    ranked
      .join(lbl, Seq("vec_id"))
      .join(lbl.select(col("vec_id").as("neighbor_id"),
        col("label").as("neg_label")), Seq("neighbor_id"))
      .select(col("vec_id"), col("label"), col("rn"),
        col("neighbor_id").as("negative_id"), col("neg_label"),
        col("cos_bp"))
  }

  /** s19's candidate stage: DIRECTED band collisions of a labeled
    * `(vec_id, embedding, label)` frame, cross-label pairs only — the
    * label joins are key-equality probes of the thin (vec_id, label)
    * side, applied BEFORE any pair is scored (ScaleCheck's s19_cand
    * growth row measures this frame).
    */
  private[graft] def hardNegativeCandidates(emb: DataFrame,
      bands: Seq[Seq[Int]]): DataFrame = {
    val keyed = bandKeysOf(emb.select(col("vec_id"), col("embedding")), bands)
    val lbl = emb.select(col("vec_id"), col("label"))
    keyed.select(col("vec_id").as("src"), col("band"), col("bucket"))
      .join(keyed.select(col("vec_id").as("dst"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst")).distinct()
      .join(lbl.select(col("vec_id").as("src"), col("label").as("src_label")),
        "src")
      .join(lbl.select(col("vec_id").as("dst"), col("label").as("neg_label")),
        "dst")
      .filter(col("src_label") =!= col("neg_label"))
      .select(col("src"), col("dst"))
  }

  /** s17 — impact-ordered POSTING-LIST index build: the materialized
    * lexical index s13's BM25 scoring presumes ("in production the tf
    * frame is a posting-list probe of a term-bucketed table") — per
    * term: document frequency + the top-20 postings by impact
    * (tf DESC, doc_id tie-break), which is exactly the impact-ordered,
    * score-capped layout WAND/MaxScore-style engines store so query
    * evaluation can early-terminate without scanning a term's full
    * posting list.
    *
    * Scale shape: ONE token scan → a (term, doc) map-combinable count
    * (cached — it feeds the df aggregate AND the ranked probe of one
    * plan) → df re-aggregates that frame reusing its exchange →
    * TopKPerKey caps each term's postings at 20 BEFORE the rank
    * shuffle (≤20 rows/term/partition cross). Index size is bounded
    * at |vocab|·20 rows however large the corpus; at 100 TB the term
    * is the bucket/partition key and s13's probe prunes to its query
    * terms' buckets.
    */
  def impactIndex(s: SparkSession, dir: String, cap: Int = 20): DataFrame =
    impactIndexFrom(s, docTf(Tables.documents(s, dir)), cap)
      .orderBy(col("term"), col("rn"))

  /** The per-doc term-frequency postings of a documents frame —
    * (term, doc_id, tf), row-local tokenize + one map-combinable
    * count. Factored so streaming.PostingIngestStream computes a
    * batch's postings through the identical path.
    */
  private[graft] def docTf(docs: DataFrame): DataFrame = docs
    .select(col("doc_id"), explode(Text.tokens(col("text"))).as("term"))
    .filter(length(col("term")) > 0)
    .groupBy(col("term"), col("doc_id"))
    .agg(count(lit(1)).cast("long").as("tf"))

  /** Impact rank of a postings frame: top-`cap` per term by
    * (tf DESC, doc_id), numbered — TopKPerKey trims BEFORE the rank
    * shuffle. Shared by the batch build and the streaming fold's
    * read-side re-cap, so the stored layout cannot drift.
    */
  private[graft] def rankPostings(s: SparkSession, tf: DataFrame,
      cap: Int): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val w = Window.partitionBy(col("term"))
      .orderBy(col("tf").desc, col("doc_id"))
    graft.plans.TopK.perKey(tf, Seq(col("term")),
        Seq(col("tf").desc, col("doc_id").asc), cap)
      .withColumn("rn", row_number().over(w))
  }

  /** s17's index build over an EXPLICIT postings frame (unsorted —
    * the contract query adds the output sort): df + impact-ranked
    * top-`cap` per term.
    */
  private[graft] def impactIndexFrom(s: SparkSession, tf0: DataFrame,
      cap: Int): DataFrame = {
    val tf = tf0.cache() // feeds the df aggregate AND the ranked probe
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    rankPostings(s, tf, cap)
      .join(df, Seq("term"))
      .select(col("term"), col("df"), col("rn"), col("doc_id"), col("tf"))
  }

  /** s16 — GRAPH-EXPANDED search (the graph-based ANN retrieval step
    * of HNSW/NSG-family indexes, one hop deep): seed each fixed query
    * with its s02 LSH results, expand every seed through the s15 kNN
    * graph (seed's neighbors join in), exact-re-rank the expanded
    * pool to top-3. This is THE recall-repair move when bucketed
    * indexes miss: a true neighbor absent from the query's LSH bucket
    * is still reachable if any seed links to it — retrieval quality
    * improves without touching the corpus scan.
    *
    * Scale shape: the pool is ≤ |seeds|·(1+k) rows per query BY
    * CONSTRUCTION (≤12 here) — everything after the two index probes
    * is corpus-independent; the graph probe is a key-equality join
    * into the (stored, bucketed) s15 artifact — rebuilt inline here
    * only because the gate recomputes artifacts per query (the
    * pqCodebook convention); production reads the persisted graph.
    * Scores rank in the s15 milli-quantized space (same determinism
    * contract), so the re-rank can never straddle a float ulp.
    */
  def graphExpandSearch(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val seeds = graphSeeds(s, dir)
    // build only the probed nodes' edges — identical rows to the full
    // graph for those nodes (per-src top-k is src-independent)
    val graph = knnGraphFrame(s, dir,
        srcIds = Some(seeds.select(col("neighbor_id").as("vec_id"))))
    graphExpandFrom(s, dir, seeds, graph, k)
  }

  /** s16's seed frame — each fixed query's s02 LSH results. Cached:
    * it feeds the direct leg, the hop join and the graph probe.
    */
  private[graft] def graphSeeds(s: SparkSession, dir: String): DataFrame =
    annLsh(s, dir).select(col("query_id"), col("neighbor_id")).cache()

  /** The s16 pool-expand + exact-rerank stage over explicit seed and
    * graph-edge frames — the inline build and the persisted-index
    * probe (sources.IndexStore.probeGraphExpand, which reads the seed
    * nodes' edges by key out of the bucketed delta layout) share it
    * verbatim.
    */
  private[graft] def graphExpandFrom(s: SparkSession, dir: String,
      seeds: DataFrame, graphEdges: DataFrame, k: Int): DataFrame = {
    val graph = graphEdges.select(col("vec_id"), col("neighbor_id").as("hop_id"))
    val pool = seeds.select(col("query_id"), col("neighbor_id").as("cid"))
      .union(seeds.join(graph, seeds("neighbor_id") === graph("vec_id"))
        .select(col("query_id"), col("hop_id").as("cid")))
      .filter(col("cid") =!= col("query_id"))
      .distinct()
    val e = milliQuantized(Tables.embeddings(s, dir))
    val q = e.filter(isQuery)
      .select(col("vec_id").as("query_id"), col("mq").as("qm"),
        col("nq").as("qn"))
    val scored = pool
      .join(e.select(col("vec_id").as("cid"), col("mq").as("cm"),
        col("nq").as("cn")), "cid")
      .join(broadcast(q), "query_id")
      .withColumn("cos",
        expr("aggregate(zip_with(qm, cm, (x, y) -> x * y), 0L, (a, x) -> a + x)")
          .cast("double") / sqrt((col("qn") * col("cn")).cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("cid"))
    graft.plans.TopK.perKey(scored, Seq(col("query_id")),
        Seq(col("cos").desc, col("cid").asc), k)
      .withColumn("rn", row_number().over(w))
      .select(col("query_id"), col("rn"), col("cid").as("neighbor_id"),
        floor(col("cos") * 10000).cast("long").as("cos_bp"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** s18 — IVF INDEX-HEALTH report: per-cell occupancy of s03's
    * layout — share of the corpus, load factor vs perfect balance,
    * hot-cell and EMPTY-cell flags. This is the audit every
    * production vector store runs per ingest cycle next to s09's
    * recall audit: a hot cell (load ≥ 2× balanced) means queries
    * probing it scan multiples of their fair share (latency skew), an
    * empty cell means a wasted centroid (recall paid for nothing) —
    * both are the re-cluster/re-balance triggers.
    *
    * Scale shape: ONE corpus scan (the shared cellAssignments
    * broadcast-centroid pass, rr=1) collapses to a cid-keyed
    * map-combinable count; the centroid left join keeps empty cells
    * visible (an inner join would silently hide exactly the failure
    * this report exists to catch). Everything after the count is a
    * K-row frame — its single-partition window is scale-free (the
    * t29 bounded-frame precedent). Integer bp throughout.
    */
  def indexHealth(s: SparkSession, dir: String): DataFrame =
    indexHealthOf(s,
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")),
      coarseCentroids(s, dir))

  /** s18 over EXPLICIT (vec_id, embedding) / (cid, cv) frames — the
    * cellAssignmentsOf seam, so specs can plant hot and empty cells
    * (label centroids on real data always have ≥1 member).
    */
  def indexHealthOf(s: SparkSession, e0: DataFrame,
      cent0: DataFrame): DataFrame = {
    val cent = cent0.select(col("cid"))
    val occ = cellAssignmentsOf(s, e0, cent0).filter(col("rr") === 1)
      .groupBy(col("cid")).agg(count(lit(1)).cast("long").as("n_occ"))
    val h = cent.join(occ, Seq("cid"), "left")
      .select(col("cid").cast("int").as("cid"),
        coalesce(col("n_occ"), lit(0L)).as("n_vecs"))
    val wAll = OnePartition.window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    OnePartition(h).withColumn("n_total", sum(col("n_vecs")).over(wAll))
      .withColumn("n_cells", count(lit(1)).over(wAll))
      .select(col("cid"), col("n_vecs"),
        expr("CAST(n_vecs * 10000 DIV n_total AS BIGINT)").as("share_bp"),
        expr("CAST(n_vecs * n_cells * 10000 DIV n_total AS BIGINT)")
          .as("load_bp"),
        (col("n_vecs") * col("n_cells") > col("n_total") * 2L).as("hot"),
        (col("n_vecs") === 0L).as("empty"))
      .orderBy(col("cid"))
  }

  def annIvf(s: SparkSession, dir: String): DataFrame =
    annIvfFrame(s, dir).orderBy(col("query_id"), col("rn"))

  /** s03's unsorted body (the factored-body rule — s09/s14). */
  private[graft] def annIvfFrame(s: SparkSession, dir: String): DataFrame = {
    val asg = cellAssignments(s, dir)
    val cells = asg.filter(col("rr") === 1)
      .select(col("vec_id"), col("embedding"), col("nrm"), col("cid"))
    // queries probe their 2 nearest cells; a corpus vector lives in
    // exactly one cell and probe cids are distinct, so the cid
    // equi-join yields each (query, candidate) pair at most once
    val q = asg.filter(isQuery && col("rr") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("cid"))
    val scored = cells.join(broadcast(q),
        cells("cid") === q("cid") && col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        Vector.dot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
    rankTopKFrame(s, scored, 3)
  }

  /** s03's probed (query, candidate) pairs — observability surface
    * (the bench's cand_pairs.s03_probe telemetry, ScaleSpec's
    * sublinearity row): exactly the pairs the gated query scores.
    * With K = coarseK(n) ∝ n, per-query candidates ~nprobe·50 stay
    * ~constant as the corpus grows (the r11 verdict's criterion; the
    * 10 pinned label centroids made this ∝ n/10).
    */
  def ivfProbeCandidates(s: SparkSession, dir: String): DataFrame = {
    val asg = cellAssignments(s, dir)
    val cells = asg.filter(col("rr") === 1)
      .select(col("vec_id"), col("cid"))
    val q = asg.filter(isQuery && col("rr") <= 2)
      .select(col("vec_id").as("query_id"), col("cid"))
    cells.join(broadcast(q),
        cells("cid") === q("cid") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
  }

  /** s02's probed (query, candidate) pairs — the LSH twin of
    * [[ivfProbeCandidates]]: per-query bucket occupancy ~n/2^bits,
    * held ~8 by the adaptive bit count.
    */
  def lshProbeCandidates(s: SparkSession, dir: String): DataFrame = {
    val dims = lshDims(nVecs(s, dir))
    val (q0, e) = queriesAndCorpus(s, dir)
    val corpus = e.select(col("vec_id"),
      Vector.signBucket(col("embedding"), dims).as("bucket"))
    val q = q0.select(col("query_id"),
      Vector.signBucket(col("qv"), dims).as("bucket"))
    corpus.join(broadcast(q),
        corpus("bucket") === q("bucket") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"))
  }

  /** s03 recomputed as a PROBE of the persisted IVF layout
    * (sources.IndexStore): queries rank against the STORED centroid
    * table, their ≤2·|Q| probe cell ids become a static `cid IN`
    * partition filter on the cid-partitioned cells table, and only
    * those directories are scanned — the nprobe/K fraction of the
    * corpus the s03 Scaladoc promises at 100 TB, realized as
    * partition pruning. Output-identical to [[annIvf]]: the stored
    * cells ARE its rr=1 assignments and the query-side ranking runs
    * the same cellAssignmentsOf math against the same centroids.
    */
  private[graft] def annIvfProbe(s: SparkSession, dir: String,
      idxDir: String): DataFrame = {
    val cent = s.read.parquet(s"$idxDir/centroids")
    val qs = Tables.embeddings(s, dir).filter(isQuery)
      .select(col("vec_id"), col("embedding"))
    val qAsg = cellAssignmentsOf(s, qs, cent).filter(col("rr") <= 2)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"),
        col("nrm").as("qnrm"), col("cid"))
    val cells = graft.sources.PartitionPrune.filterByKeys(
      s.read.parquet(s"$idxDir/cells"), "cid", qAsg.select(col("cid")))
    val scored = cells.join(broadcast(qAsg),
        cells("cid") === qAsg("cid") && col("vec_id") =!= col("query_id"))
      .withColumn("cos",
        Vector.dot(col("qv"), col("embedding")) / (col("qnrm") * col("nrm")))
    rankTopK(s, scored, 3)
  }

  /** s22 — OUT-OF-DISTRIBUTION scrub against the coarse quantizer:
    * every vector's best integer-cosine to the label centroids (m04's
    * milli-floored means — the same table the IVF family quantizes
    * against), flagged OOD when it sits far below the corpus mean —
    * the "junk vector" filter production embedding pipelines run
    * before semantic dedup / ANN indexing (encoder garbage, empty-doc
    * embeddings and modality mixups land far from EVERY centroid, and
    * SemDeDup-style pruning assumes they're gone). `agrees` also
    * surfaces coarse-quantizer label disagreement — the mislabel
    * audit for the label column itself.
    *
    * Determinism: centroid components are floor(avg·1000) BIGINTs
    * (m04's rule — the floor absorbs summation-order ulps), vectors
    * score in the s15 milli-quantized integer space (LongVecDot
    * kernel), argmax is a struct-min on (−cos, clab), and the OOD
    * rule is best_bp·10 < mean_bp·8 (20% below the corpus mean) with
    * mean_bp computed on a +10⁴-shifted nonnegative sum and then
    * un-shifted — the shift is exact because 10⁴·n divides evenly, so
    * trunc-vs-floor integer division can never diverge even on a
    * hypothetical negative-mean corpus.
    *
    * Scale shape: one centroid build (K·64-component agg, K = label
    * count) broadcast to a single vector scan; the K-way fan-out
    * collapses to one row per vector by the struct-min BEFORE the
    * shuffle (annPq's encode pattern). The per-vector scalar frame is
    * cached because the global-mean join references it twice — it is
    * ~1000× narrower than the embeddings it summarizes.
    */
  def oodScrub(s: SparkSession, dir: String): DataFrame =
    oodScrubFrame(s, dir).orderBy(col("vec_id"))

  /** s22's unsorted body (the factored-body rule). */
  private[graft] def oodScrubFrame(s: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding"), col("label"))
    // m04's centroid rule, kept in exact BIGINT milli-units end-to-end
    // (never through a float roundtrip — floor(float·1000) can drop a
    // unit on the re-widen)
    val cent = e
      .select(col("label").as("clab"), posexplode(col("embedding"))
        .as(Seq("pos", "x")))
      .groupBy(col("clab"), col("pos"))
      .agg(avg(col("x").cast("double")).as("m"))
      .select(col("clab"), col("pos"),
        floor(col("m") * 1000).cast("long").as("cmi"))
      .groupBy(col("clab"))
      .agg(expr("transform(sort_array(collect_list(struct(pos, cmi)))," +
        " p -> p.cmi)").as("mc"))
      .withColumn("cn", expr("aggregate(mc, 0L, (a, x) -> a + x * x)"))
    val best = milliQuantized(e.select(col("vec_id"), col("embedding")))
      .join(e.select(col("vec_id"), col("label")), "vec_id")
      .crossJoin(broadcast(cent))
      .withColumn("dot",
        expr("aggregate(zip_with(mq, mc, (x, y) -> x * y), 0L, (a, x) -> a + x)"))
      .withColumn("cos", col("dot").cast("double") /
        sqrt((col("nq") * col("cn")).cast("double")))
      .groupBy(col("vec_id"), col("label"))
      .agg(min(struct((-col("cos")).as("nc"), col("clab").as("clab"))).as("b"))
      .select(col("vec_id"), col("label"), col("b.clab").as("best_label"),
        floor((-col("b.nc")) * 10000).cast("long").as("best_cos_bp"))
      .cache()
    val meanRow = best.agg(
      expr("CAST(sum(best_cos_bp + 10000) DIV count(*) AS BIGINT)")
        .as("mean_shift"))
    best.crossJoin(broadcast(meanRow))
      .select(col("vec_id"), col("label"), col("best_label"),
        col("best_cos_bp"),
        (col("best_cos_bp") * 10L < (col("mean_shift") - 10000L) * 8L)
          .as("is_ood"),
        (col("best_label") === col("label")).as("agrees"))
  }

  /** s23 — embedding CENTROID DRIFT monitor: per label, the squared
    * integer-milli distance between the label's centroid computed on
    * the even-vec_id half and the odd-vec_id half of the corpus (the
    * deterministic stand-in for last-ingest vs this-ingest — the
    * production monitor splits by ingest time). This is the
    * distribution-shift trigger for the quantizer family: s03/s05/
    * s06's centroids and codebooks were trained on yesterday's data,
    * and a drifted label (encoder update, source change, modality
    * leak) silently degrades their recall (s09) and occupancy (s18/
    * s21) — the drift table is the RETRAIN alarm read next to those
    * audits. t28 watches the text distribution; this is its vector
    * twin.
    *
    * Centroids in m04's exact BIGINT-milli space (floor(avg·1000) per
    * component — floor at milli granularity is the established
    * cross-engine-stable aggregate), the distance entirely integer
    * after. Scale: one posexplode scan → (label, half, idx)
    * map-combinable aggregate (output ≤ |labels|·2·dims rows at any
    * corpus size, cached — referenced by both half slices) → a
    * key-equality join of two tiny slices → |labels|-row report; the
    * drift-share window runs over that tiny frame.
    */
  def centroidDrift(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        (col("vec_id") % 2).cast("int").as("half"), col("embedding"))
    val cm = e
      .select(col("label"), col("half"),
        posexplode(col("embedding")).as(Seq("idx", "v")))
      .groupBy(col("label"), col("half"), col("idx"))
      .agg(floor(avg(col("v").cast("double")) * 1000).cast("long").as("c"))
      // ≤ |labels|·2·dims rows, referenced by both half slices
      .cache()
    val a = cm.filter(col("half") === 0)
      .select(col("label"), col("idx"), col("c").as("ca"))
    val b = cm.filter(col("half") === 1)
      .select(col("label"), col("idx"), col("c").as("cb"))
    val counts = e.groupBy(col("label"))
      .agg(sum(when(col("half") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("half") === 1, 1L).otherwise(0L)).as("n_b"))
    val dist = a.join(b, Seq("label", "idx"))
      .groupBy(col("label"))
      .agg(sum((col("ca") - col("cb")) * (col("ca") - col("cb")))
        .cast("long").as("dist2_milli"))
    OnePartition(dist.join(counts, "label"))
      .withColumn("tot",
        greatest(sum(col("dist2_milli")).over(OnePartition.window), lit(1L)))
      .select(col("label"), col("n_a").cast("long").as("n_a"),
        col("n_b").cast("long").as("n_b"), col("dist2_milli"),
        expr("(dist2_milli * 10000) DIV tot").as("share_bp"))
      .orderBy(col("label"))
  }
}
