package graft

import graft.operators._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 for the inventory.
  * Every operator has a `queries` entry; all SQL-expressible ones have
  * a DuckDB oracle in `oracleSql` (same parquet tables, identical
  * column names/types — see SURVEY.md §6 for the determinism rules).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.pricingSummary(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.1 reference analytics (analytics.sql)
    "q31_docs_processed" -> (InvoiceAnalytics.docsProcessed _),
    "q32_invoice_total_value" -> (InvoiceAnalytics.invoiceTotalValue _),
    "q33_top_suppliers" -> (InvoiceAnalytics.topSuppliers _),
    "q34_common_products" -> (InvoiceAnalytics.commonProducts _),
    "q35_monthly_trend" -> (InvoiceAnalytics.monthlyTrend _),
    // §2.2 parsing
    "p01_parse_float" -> (ParseOps.parseFloatQ _),
    "p02_parse_date_multi" -> (ParseOps.parseDateMultiQ _),
    "p03_find_first_date" -> (ParseOps.findDateQ _),
    "p04_tax_rate" -> (ParseOps.taxRateQ _),
    "p05_invoice_line_parse" -> (ParseOps.invoiceLineQ _),
    "p06_doc_type_detect" -> (ParseOps.docTypeQ _),
    "p07_fix_null_total" -> (ParseOps.fixNullTotalQ _),
    "p08_invoice_number" -> (ParseOps.invoiceNumberQ _),
    "p09_ocr_line_grouping" -> (ParseOps.ocrLineGroupingQ _),
    "p10_nc_label_extract" -> (ParseOps.ncLabelExtractQ _),
    "p11_json_props" -> (Relational.jsonProps _),
    "p12_nc_bid_lines" -> (ParseOps.ncBidLinesQ _),
    "p13_nc_bid_tabs" -> (ParseOps.ncBidTabsQ _),
    "p14_receipt_lines" -> (ParseOps.receiptLinesQ _),
    "p15_nc_item_c" -> (ParseOps.ncItemCQ _),
    "p16_nc_invitation_to_bid" -> (ParseOps.ncInvitationQ _),
    "p17_nc_award_letter" -> (ParseOps.ncAwardLetterQ _),
    "p18_invoice_metadata" -> (ParseOps.invoiceMetadataQ _),
    "p19_invoice_lines" -> (ParseOps.invoiceLinesQ _),
    "p20_ocr_tsv" -> (ParseOps.ocrTsvQ _),
    // §2.3 relational core
    "r01_pricing_summary" -> (Relational.pricingSummary _),
    "r02_enrich_join" -> (Relational.enrichJoin _),
    "r03_topn_per_group" -> (Relational.topNPerGroup _),
    "r04_semi_anti" -> (Relational.semiAnti _),
    "r05_rollup" -> (Relational.rollupSummary _),
    "r06_pivot" -> (Relational.pivotEvents _),
    "r07_asof_join" -> (Relational.asofJoin _),
    "r08_sessionize" -> (Relational.sessionize _),
    "r20_sessionize_chunked" -> ((s, d) => Relational.sessionizeChunked(s, d)),
    "r09_running_window" -> (Relational.runningWindow _),
    "r10_salted_agg" -> (Relational.saltedAgg _),
    "r11_region_rollup" -> (Relational.regionRollup _),
    "r12_approx_stats" -> ((s, d) => Relational.approxStats(s, d)),
    "r13_exact_stats" -> (Relational.exactStats _),
    "r14_table_diff" -> (Relational.tableDiff _),
    "r15_cube" -> (Relational.cubeSummary _),
    "r16_scd2" -> (Relational.scd2Merge _),
    "r17_range_join" -> (Relational.rangeJoinEvents _),
    "r18_profile" -> (Relational.profileTable _),
    "r19_incremental_agg" -> (Relational.incrementalAgg _),
    "r21_cdc_apply" -> (Relational.cdcApply _),
    "r22_funnel" -> (Relational.funnel _),
    "r23_retention" -> (Relational.retentionCohorts _),
    "r24_funnel_chained" -> (Relational.funnelChained _),
    "r25_pagerank" -> (Relational.purchasePagerank _),
    "r26_funnel_windowed" -> ((s, d) => Relational.funnelWindowed(s, d)),
    "r27_gapfill" -> (Relational.gapFill _),
    "r28_spend_deciles" -> (Relational.spendDeciles _),
    "r29_transition_matrix" -> (Relational.transitionMatrix _),
    "r30_concurrency" -> (Relational.concurrency _),
    "r31_reconciliation" -> (Relational.reconciliation _),
    "w01_tumbling_window" -> (Relational.tumblingWindow _),
    "w02_sliding_window" -> (Relational.slidingWindow _),
    // §2.4 dedup
    "d01_exact_dedup" -> (Dedup.exact _),
    "d02_minhash_lsh" -> (Dedup.minhashLsh _),
    "d03_simhash" -> (Dedup.simhash _),
    "d04_ngram_jaccard" -> (Dedup.ngramJaccard _),
    // gate variant: + planted near-dup pairs so the oracle compare is
    // non-empty at sf0.01 (the plain corpus has no cos >= 0.9 pair
    // there and the hash match was vacuously true)
    "d05_embedding_dup" -> (Dedup.embeddingDupGate _),
    "d06_fuzzy_match" -> (Dedup.fuzzyMatch _),
    "d07_dup_clusters" -> (Dedup.dupClusters _),
    "d08_keep_best" -> (Dedup.keepBest _),
    "d09_chunk_dedup" -> ((s, d) => Dedup.chunkDedup(s, d)),
    "d10_incremental_dedup" -> (Dedup.incrementalDedup _),
    "d11_incremental_lsh" -> (Dedup.incrementalLsh _),
    "d12_semantic_dedup" -> ((s, d) => Dedup.semanticDedup(s, d)),
    "d13_multiblock_simhash" -> (Dedup.multiblockSimhash _),
    "d14_containment" -> (Dedup.containment _),
    "d15_lsh_recall" -> (Dedup.lshRecallAudit _),
    // §2.5 similarity search
    "s01_ann_bruteforce" -> (Similarity.annBruteForce _),
    "s02_ann_lsh" -> (Similarity.annLsh _),
    "s03_ann_ivf" -> (Similarity.annIvf _),
    "s04_hybrid_search" -> (Similarity.hybridSearch _),
    "s05_ann_pq" -> (Similarity.annPq _),
    "s06_ann_ivfpq" -> (Similarity.annIvfPq _),
    "s07_ann_refine" -> (Similarity.annRefine _),
    "s08_ann_sq8" -> (Similarity.annSq8 _),
    "s09_recall_audit" -> (Similarity.annRecallAudit _),
    "s10_range_search" -> ((s, d) => Similarity.rangeSearch(s, d)),
    "s11_mmr_rerank" -> (Similarity.mmrRerank _),
    "s12_filtered_ann" -> (Similarity.annFiltered _),
    "s13_bm25" -> ((s, d) => Similarity.bm25Search(s, d)),
    "s14_rrf_fusion" -> ((s, d) => Similarity.rrfFusion(s, d)),
    "s15_knn_graph" -> ((s, d) => Similarity.knnGraph(s, d)),
    "s16_graph_search" -> ((s, d) => Similarity.graphExpandSearch(s, d)),
    "s17_impact_index" -> ((s, d) => Similarity.impactIndex(s, d)),
    "s18_index_health" -> (Similarity.indexHealth _),
    "s19_hard_negatives" -> ((s, d) => Similarity.hardNegatives(s, d)),
    "s20_nprobe_sweep" -> ((s, d) => Similarity.nprobeSweep(s, d)),
    "s21_pq_distortion" -> (Similarity.pqDistortion _),
    "s24_ann_ivfsq8" -> (Similarity.annIvfSq8 _),
    // §2.6 text analysis
    "t01_token_count" -> (TextOps.tokenCount _),
    "t02_quality_score" -> (TextOps.qualityScore _),
    "t03_lang_id" -> (TextOps.langId _),
    "t04_fingerprint" -> (TextOps.fingerprint _),
    "t05_ngram_profile" -> (TextOps.ngramProfile _),
    "t06_validation_gate" -> (TextOps.validationGate _),
    "t07_vocabulary" -> (TextOps.vocabulary _),
    "t08_pii_redact" -> (TextOps.piiRedact _),
    "t09_tfidf" -> (TextOps.tfidf _),
    "t10_sequence_pack" -> ((s, d) => TextOps.sequencePack(s, d)),
    "t11_stratified_sample" -> (TextOps.stratifiedSample _),
    "t12_decontaminate" -> ((s, d) => TextOps.decontaminate(s, d)),
    "t13_repetition_stats" -> ((s, d) => TextOps.repetitionStats(s, d)),
    "t14_domain_mix" -> (TextOps.domainMix _),
    "t15_mix_resample" -> (TextOps.mixResample _),
    "t16_global_shuffle" -> ((s, d) => TextOps.globalShuffle(s, d)),
    "t17_contamination_excise" -> ((s, d) => TextOps.contaminationExcise(s, d)),
    "t18_split_leakage" -> (Dedup.splitLeakage _),
    "t19_selfdedup" -> ((s, d) => TextOps.selfDedup(s, d)),
    "t20_benchmark_overlap" -> ((s, d) => TextOps.benchmarkOverlap(s, d)),
    "t21_lm_surprisal" -> ((s, d) => TextOps.lmSurprisal(s, d)),
    "t22_dsir_weights" -> ((s, d) => TextOps.dsirWeights(s, d)),
    "t23_quality_classifier" -> (TextOps.qualityClassifier _),
    "t24_bpe_train" -> ((s, d) => Bpe.bpeTrain(s, d)),
    "t25_bpe_apply" -> ((s, d) => Bpe.bpeApply(s, d)),
    "t26_chunk_split" -> ((s, d) => TextOps.chunkSplit(s, d)),
    "t27_exact_sample" -> ((s, d) => TextOps.exactSample(s, d)),
    "t28_source_drift" -> ((s, d) => TextOps.sourceDrift(s, d)),
    "t29_perplexity_buckets" -> (TextOps.perplexityBuckets _),
    "t30_ngram_novelty" -> ((s, d) => TextOps.ngramNovelty(s, d)),
    "t31_zipf_profile" -> (TextOps.zipfProfile _),
    "t32_template_share" -> ((s, d) => TextOps.templateShare(s, d)),
    "t33_semantic_decontam" -> (Dedup.semanticDecontam _),
    "t34_tokenizer_fertility" -> ((s, d) => Bpe.tokenizerFertility(s, d)),
    "t35_hashed_embedding" -> ((s, d) => TextOps.hashedEmbedding(s, d)),
    // §2.7 multimodal plumbing
    "m01_binary_meta" -> (Multimodal.binaryMeta _),
    "m02_blob_features" -> ((s, d) => Multimodal.extractFeatures(s, d)),
    "m03_frame_sample" -> (Multimodal.frameSample _),
    "m04_label_centroids" -> (VectorAgg.labelCentroids _),
    "m05_modality_stats" -> (Multimodal.modalityStats _),
    "m06_modality_interleave" -> ((s, d) => Multimodal.modalityInterleave(s, d)),
    "m07_blob_dedup" -> ((s, d) => Multimodal.blobDedup(s, d)),
    "m08_shard_manifest" -> ((s, d) => Multimodal.shardManifest(s, d)),
    "w03_session_window" -> (Relational.sessionWindow _),
    "c01_curation" -> ((s, d) => Curation.curate(s, d)),
    "c02_cluster_sample" -> (Curation.clusterSample _),
    "c03_corpus_card" -> (Curation.corpusCard _),
    "c04_outlier_scrub" -> (Curation.outlierScrub _),
    "c05_dq_suite" -> (Curation.dqSuite _),
    "c06_mix_plan" -> (Curation.mixPlan _),
    "c07_cascade_report" -> (Curation.cascadeReport _),
    "c08_safe_split" -> (Curation.safeSplit _),
    "c09_token_budget" -> (Curation.tokenBudgetPlan _),
    "c10_curriculum" -> ((s, d) => Curation.curriculum(s, d)),
    "c11_weak_labels" -> (Curation.weakLabels _),
    "c12_lf_report" -> (Curation.lfReport _),
    "r32_interval_union" -> (Relational.intervalUnion _),
    "s22_ood_scrub" -> (Similarity.oodScrub _),
    "d16_bloom_gate" -> (Dedup.bloomGate _),
    "t36_readability" -> (TextOps.readability _),
    "r33_experiment_readout" -> (Relational.experimentReadout _),
    "t37_lang_confusion" -> (TextOps.langConfusion _),
    "r34_volume_anomaly" -> (Relational.volumeAnomaly _),
    "c13_lf_correlation" -> (Curation.lfCorrelation _),
    "t38_vocab_growth" -> (TextOps.vocabGrowth _),
    "s23_centroid_drift" -> (Similarity.centroidDrift _),
    "r35_cohort_ltv" -> (Relational.cohortLtv _),
    "d17_lsh_precision" -> (Dedup.lshPrecisionAudit _),
    "d18_incremental_clusters" -> (Dedup.incrementalClusters _),
    "r36_basket_affinity" -> (Relational.basketAffinity _),
    "r37_sketch_overlap" -> ((s, d) => Relational.sketchOverlap(s, d)))

  // ---- oracle SQL (DuckDB dialect, same table names) ----

  private val docTokens = "regexp_split_to_array(trim(text), '\\s+')"

  /** c11/c12 shared CTE tail: LF votes `v` over a preceding
    * `t(doc_id, toks)` CTE — MUST match Curation.weakLabelsFrame's
    * thresholds integer-for-integer.
    */
  private val weakLabelCtes: String =
    """s AS (SELECT doc_id, len(toks) AS n, len(list_distinct(toks)) AS nd,
    len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS nstop,
    list_contains(toks, 'slow') AS has_slow,
    list_contains(toks, 'spark') AS has_spark
  FROM t),
v AS (SELECT doc_id,
    CAST(CASE WHEN n >= 55 THEN 1 WHEN n < 20 THEN -1 ELSE 0 END AS INT) AS lf_len,
    CAST(CASE WHEN nstop * 100 >= n * 16 THEN -1 WHEN nstop = 0 THEN 0
      ELSE 1 END AS INT) AS lf_stop,
    CAST(CASE WHEN nd * 100 >= n * 40 THEN 1 WHEN nd * 100 < n * 32 THEN -1
      ELSE 0 END AS INT) AS lf_rep,
    CAST(CASE WHEN has_slow THEN -1 WHEN has_spark THEN 1
      ELSE 0 END AS INT) AS lf_kw
  FROM s)"""

  /** d02 helper: the 16 minhash permutation params — MUST match
    * operators.Dedup.perms.
    */
  private val perms: Seq[(Long, Long)] = Seq(
    (824633721L, 97L), (297418571L, 1031L), (619234769L, 8191L),
    (413158523L, 131071L), (928371029L, 524287L), (172938451L, 6700417L),
    (738201923L, 43L), (564372871L, 2017L), (901273451L, 7919L),
    (384729157L, 104729L), (647291837L, 15485863L), (293847561L, 49979687L),
    (758392013L, 86028121L), (482917367L, 122949829L), (918273645L, 13L),
    (573829167L, 3571L))

  /** Shared CTE chain: documents → shingles → minhash sigs → band
    * buckets → candidate pairs. `matchesExpr` counts agreeing
    * signature positions between sides sa/sb.
    */
  private def minhashCtes: String = minhashCtesFrom("documents")

  /** The CTE chain over an arbitrary (doc_id, text) base relation —
    * d15's gate runs it over documents ∪ planted rows.
    */
  private def minhashCtesFrom(base: String): String = {
    val sigCols = perms.zipWithIndex.map { case ((a, b), i) =>
      s"min((h*$a+$b)%4294967311) AS m$i"
    }.mkString(", ")
    val bands = (0 until 4).map { j =>
      val ks = (0 until 4).map(r => s"CAST(m${4 * j + r} AS VARCHAR)")
        .mkString(" || '_' || ")
      s"SELECT doc_id, $j AS band, md5($ks) AS bkey FROM sig"
    }.mkString(" UNION ALL ")
    s"""toks AS (SELECT doc_id, $docTokens AS t FROM $base),
sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS shingle FROM toks WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
hs AS (SELECT doc_id, CAST('0x' || substr(md5(shingle), 1, 8) AS BIGINT) AS h FROM sh),
sig AS (SELECT doc_id, $sigCols FROM hs GROUP BY doc_id),
bands AS ($bands),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b FROM bands a JOIN bands b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id)"""
  }

  private def matchesExpr: String = (0 until 16)
    .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)")
    .mkString(" + ")

  /** The d15/d17 shared gate-corpus chain: documents ∪ planted rows →
    * the full minhash chain (sh/sig/bands/cand) → d04's df-capped
    * shingle-intersection frame (sizes/cap/rare/shr/inter). Both
    * audits tail their own truth/aggregate onto it — one text, zero
    * drift.
    */
  private def recallGateCtes: String =
    s"""docs_g AS (SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES ${Dedup.recallPlantRows
      .map { case (id, t) => s"(CAST($id AS BIGINT), '$t')" }
      .mkString(", ")}) AS v(doc_id, text)),
${minhashCtesFrom("docs_g")},
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cap AS (SELECT greatest(8, length(bin(count(*) - 1))) AS c FROM docs_g),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= (SELECT c FROM cap)),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)"""

  private def minhashLshSql: String =
    s"""WITH $minhashCtes
SELECT c.doc_a, c.doc_b, round(($matchesExpr) / 16.0, 4) AS est_sim
FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
ORDER BY 1, 2"""

  /** t18: d02's verified near-dup pairs (≥ 8/16 matching minhashes)
    * that straddle the deterministic md5 80/10/10 split.
    */
  private def splitLeakageSql: String =
    s"""WITH $minhashCtes,
sp AS (SELECT doc_id,
    CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
  FROM (SELECT doc_id,
      CAST('0x' || substr(md5('split' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 AS b
    FROM documents))
SELECT c.doc_a, c.doc_b, pa.split AS split_a, pb.split AS split_b,
  CAST(($matchesExpr) * 625 AS BIGINT) AS est_sim_bp
FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
  JOIN sp pa ON pa.doc_id = c.doc_a JOIN sp pb ON pb.doc_id = c.doc_b
WHERE ($matchesExpr) >= 8 AND pa.split <> pb.split
ORDER BY doc_a, doc_b"""

  /** d11: delta (doc_id%10==0) band keys probe the lake's band index;
    * candidates verify at ≥ 8/16 matching minhashes (est_sim in exact
    * integer basis points, 625 = 10000/16); best lake match per delta
    * doc (highest est_sim, smallest id). The `cand` CTE from the
    * shared chain is unused here (it is d02's all-pairs form).
    */
  private def incrementalLshSql: String =
    s"""WITH $minhashCtes,
dband AS (SELECT doc_id AS delta_id, band, bkey FROM bands WHERE doc_id % 10 = 0),
lband AS (SELECT doc_id AS lake_id, band, bkey FROM bands WHERE doc_id % 10 <> 0),
cand2 AS (SELECT DISTINCT d.delta_id, l.lake_id
  FROM dband d JOIN lband l ON d.band = l.band AND d.bkey = l.bkey),
scored AS (SELECT c.delta_id, c.lake_id,
    CAST(($matchesExpr) * 625 AS BIGINT) AS est_sim_bp
  FROM cand2 c JOIN sig sa ON sa.doc_id = c.delta_id
  JOIN sig sb ON sb.doc_id = c.lake_id
  WHERE ($matchesExpr) >= 8),
best AS (SELECT delta_id, lake_id, est_sim_bp, row_number() OVER (
    PARTITION BY delta_id ORDER BY est_sim_bp DESC, lake_id) AS rn
  FROM scored)
SELECT d.doc_id,
  CASE WHEN b.lake_id IS NOT NULL THEN 'near_dup_of_index' ELSE 'kept' END AS status,
  b.lake_id AS dup_of, b.est_sim_bp
FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
LEFT JOIN (SELECT * FROM best WHERE rn = 1) b ON b.delta_id = d.doc_id
ORDER BY doc_id"""

  /** d07: min-doc_id connected components over est_sim ≥ 0.5 pairs
    * (= ≥ 8 of 16 matching minhashes, integer-exact), via a recursive
    * transitive-closure CTE.
    */
  private def dupClustersSql: String =
    s"""WITH RECURSIVE $minhashCtes,
sims AS (SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE ($matchesExpr) >= 8),
edges AS (SELECT doc_a AS a, doc_b AS b FROM sims
  UNION ALL SELECT doc_b, doc_a FROM sims),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
)
SELECT src AS doc_id, min(dst) AS cluster_id
FROM reach GROUP BY src ORDER BY doc_id"""

  /** c08: d07's recursive CC replayed, split hashed on cluster_id
    * (t18's salt + bucket rule, applied to the component).
    */
  private def safeSplitSql: String =
    s"""WITH RECURSIVE $minhashCtes,
sims AS (SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE ($matchesExpr) >= 8),
edges AS (SELECT doc_a AS a, doc_b AS b FROM sims
  UNION ALL SELECT doc_b, doc_a FROM sims),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src)
SELECT doc_id, cluster_id,
  CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END AS split
FROM (SELECT doc_id, cluster_id,
    CAST('0x' || substr(md5('split' || CAST(cluster_id AS VARCHAR)), 1, 8) AS BIGINT) % 10 AS b
  FROM cl) ORDER BY doc_id"""

  /** DuckDB replay of VectorAgg.pqCodebook (K=16, 2 k-means rounds,
    * vec_id%16 seed, milli-floored means): psv = subspace slices of
    * the full corpus, c0 = seed centroids, a1/c1 and a2/cj = the two
    * assign→mean rounds. Requires an `e(vec_id, embedding)` CTE in
    * scope; yields `cj(j, cid, scv)`.
    */
  private def pqCodebookCtes: String =
    """psv AS (SELECT vec_id, j, CAST(embedding[j*16+1 : j*16+16] AS DOUBLE[]) AS sv
  FROM e, (SELECT unnest([0, 1, 2, 3]) AS j) jj),
c0m AS (SELECT j, ck, idx, CAST(floor(avg(v) * 1000) / 1000.0 AS FLOAT) AS comp
  FROM (SELECT j, CAST(vec_id % 16 AS INT) AS ck, unnest(sv) AS v,
      unnest(range(1, len(sv)+1)) AS idx FROM psv) z
  GROUP BY j, ck, idx),
c0 AS (SELECT j, ck, CAST(list(comp ORDER BY idx) AS DOUBLE[]) AS scv
  FROM c0m GROUP BY j, ck),
a1 AS (SELECT vec_id, j, ck FROM (SELECT psv.vec_id, psv.j, c.ck,
    row_number() OVER (PARTITION BY psv.vec_id, psv.j
      ORDER BY list_inner_product(c.scv, c.scv)
        - 2 * list_inner_product(psv.sv, c.scv), c.ck) AS rr
  FROM psv JOIN c0 c USING (j)) z WHERE rr = 1),
c1m AS (SELECT j, ck, idx, CAST(floor(avg(v) * 1000) / 1000.0 AS FLOAT) AS comp
  FROM (SELECT psv.j AS j, a1.ck AS ck, unnest(psv.sv) AS v,
      unnest(range(1, len(psv.sv)+1)) AS idx
    FROM psv JOIN a1 ON a1.vec_id = psv.vec_id AND a1.j = psv.j) z
  GROUP BY j, ck, idx),
c1 AS (SELECT j, ck, CAST(list(comp ORDER BY idx) AS DOUBLE[]) AS scv
  FROM c1m GROUP BY j, ck),
a2 AS (SELECT vec_id, j, ck FROM (SELECT psv.vec_id, psv.j, c.ck,
    row_number() OVER (PARTITION BY psv.vec_id, psv.j
      ORDER BY list_inner_product(c.scv, c.scv)
        - 2 * list_inner_product(psv.sv, c.scv), c.ck) AS rr
  FROM psv JOIN c1 c USING (j)) z WHERE rr = 1),
c2m AS (SELECT j, ck, idx, CAST(floor(avg(v) * 1000) / 1000.0 AS FLOAT) AS comp
  FROM (SELECT psv.j AS j, a2.ck AS ck, unnest(psv.sv) AS v,
      unnest(range(1, len(psv.sv)+1)) AS idx
    FROM psv JOIN a2 ON a2.vec_id = psv.vec_id AND a2.j = psv.j) z
  GROUP BY j, ck, idx),
cj AS (SELECT j, ck AS cid, CAST(list(comp ORDER BY idx) AS DOUBLE[]) AS scv
  FROM c2m GROUP BY j, ck)"""

  /** The d12/c02-shared FULL-VECTOR deterministic k-means chain
    * (VectorAgg.kmeansCentroidsSampled replay): K = greatest(10,
    * ⌈√n⌉) via an integer-corrected floor(sqrt) (`kfs` — float sqrt
    * alone mis-ceils near perfect squares, the Dedup.ceilSqrt
    * recipe), TRAINING SET `ktr` = the salted-md5 Bernoulli sample
    * of least(n, 16·K) vectors (hash64('kmtrain:'‖vec_id) mod n <
    * t — identically true when t = n, so small corpora train full),
    * seed `vec_id % k` over the sample, milli-floored means, 2
    * refinement rounds over the sample. Yields `e(vec_id,
    * embedding)`, `kk(k)`, `ev(vec_id, v)` (FULL corpus — consumers
    * append their own whole-corpus assignment CTE) and the final
    * centroid table `c2(ck, cv)`.
    */
  private def kmeansCtes: String =
    """e AS (SELECT vec_id, embedding FROM embeddings),
kn AS (SELECT count(*) AS n FROM e),
kfs AS (SELECT n, s + (CASE WHEN (s+1)*(s+1) <= n THEN 1 ELSE 0 END)
    - (CASE WHEN s*s > n THEN 1 ELSE 0 END) AS fs
  FROM (SELECT n, CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS s FROM kn) z),
kk AS (SELECT greatest(10, fs + CASE WHEN fs*fs < n THEN 1 ELSE 0 END) AS k FROM kfs),
ktt AS (SELECT least(n, 16 * (SELECT k FROM kk)) AS t, n FROM kn),
ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM e),
ktr AS (SELECT ev.vec_id, ev.v FROM ev, ktt
  WHERE CAST('0x' || substr(md5('kmtrain:' || CAST(ev.vec_id AS VARCHAR)), 1, 8) AS BIGINT)
    % greatest(ktt.n, 1) < ktt.t),
kc0m AS (SELECT ck, idx, CAST(floor(avg(x) * 1000) / 1000.0 AS FLOAT) AS comp
  FROM (SELECT CAST(vec_id % (SELECT k FROM kk) AS INT) AS ck, unnest(v) AS x,
      unnest(range(1, len(v)+1)) AS idx FROM ktr) z
  GROUP BY ck, idx),
kc0 AS (SELECT ck, CAST(list(comp ORDER BY idx) AS DOUBLE[]) AS cv FROM kc0m GROUP BY ck),
ka1 AS (SELECT vec_id, ck FROM (SELECT ktr.vec_id, c.ck,
    row_number() OVER (PARTITION BY ktr.vec_id
      ORDER BY list_inner_product(c.cv, c.cv) - 2 * list_inner_product(ktr.v, c.cv), c.ck) AS rr
  FROM ktr, kc0 c) z WHERE rr = 1),
kc1m AS (SELECT ck, idx, CAST(floor(avg(x) * 1000) / 1000.0 AS FLOAT) AS comp
  FROM (SELECT ka1.ck AS ck, unnest(ktr.v) AS x, unnest(range(1, len(ktr.v)+1)) AS idx
    FROM ktr JOIN ka1 USING (vec_id)) z
  GROUP BY ck, idx),
kc1 AS (SELECT ck, CAST(list(comp ORDER BY idx) AS DOUBLE[]) AS cv FROM kc1m GROUP BY ck),
ka2 AS (SELECT vec_id, ck FROM (SELECT ktr.vec_id, c.ck,
    row_number() OVER (PARTITION BY ktr.vec_id
      ORDER BY list_inner_product(c.cv, c.cv) - 2 * list_inner_product(ktr.v, c.cv), c.ck) AS rr
  FROM ktr, kc1 c) z WHERE rr = 1),
kc2m AS (SELECT ck, idx, CAST(floor(avg(x) * 1000) / 1000.0 AS FLOAT) AS comp
  FROM (SELECT ka2.ck AS ck, unnest(ktr.v) AS x, unnest(range(1, len(ktr.v)+1)) AS idx
    FROM ktr JOIN ka2 USING (vec_id)) z
  GROUP BY ck, idx),
c2 AS (SELECT ck, CAST(list(comp ORDER BY idx) AS DOUBLE[]) AS cv FROM kc2m GROUP BY ck)"""

  /** The IVF coarse layer's centroid table as a CTE chain — the
    * kmeans rounds (renamed internals so they compose with
    * pqCodebookCtes inside one WITH clause) plus the (cid, cv) alias
    * the s03-family oracles consume. Replays
    * Similarity.coarseCentroids: K = greatest(10, ceil(sqrt(n))),
    * least(n, 16K)-vector md5-sampled training, vec_id%K seed, two
    * milli-floored assign→mean rounds.
    */
  private def coarseCtes: String =
    kmeansCtes + """,
cent AS (SELECT ck AS cid, cv FROM c2)"""

  /** Shared by r08 and its skew-resistant twin r20 — both must equal
    * the single-window formulation exactly.
    */
  private def sessionizeSql: String =
    """WITH x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
y AS (SELECT *, CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess FROM x),
z AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM y)
SELECT user_id, session_id, count(*) AS n_events, round(sum(value), 2) AS session_value,
  CAST(min(ts) AS TIMESTAMP) AS session_start, CAST(max(ts) AS TIMESTAMP) AS session_end
FROM z GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  private def simhashSql: String = {
    val bitSums = (0 until 32).map { j =>
      s"sum(CASE WHEN (h >> $j) & 1 = 1 THEN 1 ELSE -1 END) AS s$j"
    }.mkString(", ")
    val recompose = (0 until 32)
      .map(j => s"(CASE WHEN s$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH t AS (SELECT doc_id, unnest($docTokens) AS tok FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) AS h FROM t),
s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, CAST($recompose AS BIGINT) AS simhash FROM s)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, CAST(bit_count(xor(a.simhash, b.simhash)) AS INT) AS hamming
FROM sh a JOIN sh b ON a.doc_id < b.doc_id
  AND ((a.simhash & 65535) = (b.simhash & 65535) OR (a.simhash >> 16) = (b.simhash >> 16))
WHERE bit_count(xor(a.simhash, b.simhash)) <= 8
ORDER BY 1, 2"""
  }

  /** DuckDB replay of Dedup.multiblockSimhash (d13, r13 widened):
    * corpus-adaptive block width b = min(30, max(15, ⌈log₂n⌉+2))
    * computed from the doc count (`mbb` — the oracle re-derives the
    * layout, never trusts a constant), sign-sum fingerprint over TWO
    * 60-bit md5 words (hex chars 1–15 and 16–30) recomposed into two
    * BIGINT words of 2 blocks each via width-conditional shifts (the
    * 120 bit sums are computed unconditionally; the CASE masks
    * select the 4·b live ones), 4 block keys, hamming ≤ 3 on
    * block-sharing pairs, layout declared as `width` = 4·b.
    */
  private def multiblockSimhashSql: String = {
    val bitSums = (0 until 120).map { g =>
      val src = if (g < 60) s"(h1 >> $g)" else s"(h2 >> ${g - 60})"
      s"sum(CASE WHEN $src & 1 = 1 THEN 1 ELSE -1 END) AS s$g"
    }.mkString(", ")
    val w0 = (0 until 120).map(g =>
      s"(CASE WHEN s$g > 0 AND $g < 2*bb THEN (CAST(1 AS BIGINT) << $g) ELSE 0 END)")
      .mkString(" + ")
    val w1 = (0 until 120).map(g =>
      s"(CASE WHEN s$g > 0 AND $g >= 2*bb AND $g < 4*bb THEN (CAST(1 AS BIGINT) << ($g - 2*bb)) ELSE 0 END)")
      .mkString(" + ")
    s"""WITH mbn AS (SELECT count(*) AS n FROM documents),
mbb AS (SELECT greatest(15, least(30,
    (CASE WHEN n <= 1 THEN 0 ELSE length(bin(n - 1)) END) + 2)) AS bb FROM mbn),
t AS (SELECT doc_id, unnest($docTokens) AS tok FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(tok), 1, 15) AS BIGINT) AS h1,
  CAST('0x' || substr(md5(tok), 16, 15) AS BIGINT) AS h2 FROM t),
s AS (SELECT doc_id, $bitSums FROM h GROUP BY doc_id),
sh AS (SELECT doc_id, CAST($w0 AS BIGINT) AS fp0, CAST($w1 AS BIGINT) AS fp1
  FROM s, mbb),
blk AS (SELECT doc_id, fp0, fp1, j,
    CASE WHEN j < 2 THEN (fp0 >> (bb*j)) & ((CAST(1 AS BIGINT) << bb) - 1)
         ELSE (fp1 >> (bb*(j-2))) & ((CAST(1 AS BIGINT) << bb) - 1) END AS bv
  FROM sh, mbb, (SELECT unnest([0, 1, 2, 3]) AS j) jj),
cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
    a.fp0 AS fa0, a.fp1 AS fa1, b.fp0 AS fb0, b.fp1 AS fb1
  FROM blk a JOIN blk b ON a.j = b.j AND a.bv = b.bv AND a.doc_id < b.doc_id)
SELECT doc_a, doc_b,
  CAST(bit_count(xor(fa0, fb0)) + bit_count(xor(fa1, fb1)) AS INT) AS hamming,
  CAST(4 * (SELECT bb FROM mbb) AS INT) AS width
FROM cand WHERE bit_count(xor(fa0, fb0)) + bit_count(xor(fa1, fb1)) <= 3
ORDER BY 1, 2"""
  }

  /** Single-source language-ID oracle pieces: marker regexes derive
    * from functions.Text.markers (the table t03/t37's Spark side
    * reads), and the gate corpus is documents ∪ the planted rows
    * (TextOps.langPlantRows — the d15 VALUES-replay recipe).
    */
  private def langMarkers: Seq[(String, String)] =
    graft.functions.Text.markers.map { case (l, ws) => l -> ws.mkString("|") }

  private def langGateCtes: String =
    s"""docs_lg AS (SELECT doc_id, lang, text FROM documents
  UNION ALL SELECT * FROM (VALUES ${operators.TextOps.langPlantRows
      .map { case (id, l, t) => s"(CAST($id AS BIGINT), '$l', '$t')" }
      .mkString(", ")}) AS v(doc_id, lang, text))"""

  private def langCountCols: String = langMarkers.map { case (l, ws) =>
    s"CAST(len(regexp_extract_all(lower(text), '\\b($ws)\\b')) AS INT) AS c_$l"
  }.mkString(", ")

  private def langPickCase: String = {
    val maxE = "greatest(" + langMarkers.map("c_" + _._1).mkString(", ") + ")"
    val pick = langMarkers.map { case (l, _) =>
      s"WHEN c_$l = m AND c_$l > 0 THEN '$l'"
    }.mkString(" ")
    s"x AS (SELECT *, $maxE AS m FROM c)," +
      s"\np AS (SELECT doc_id, lang, CASE $pick ELSE 'und' END AS predicted_lang FROM x)"
  }

  private def langIdSql: String =
    s"""WITH $langGateCtes,
c AS (SELECT doc_id, lang, $langCountCols FROM docs_lg),
$langPickCase
SELECT doc_id, lang AS labeled_lang, predicted_lang
FROM p ORDER BY doc_id"""

  private def langConfusionSql: String =
    s"""WITH $langGateCtes,
c AS (SELECT doc_id, lang, $langCountCols FROM docs_lg),
$langPickCase,
g AS (SELECT lang AS labeled_lang, predicted_lang,
    CAST(count(*) AS BIGINT) AS n_docs FROM p GROUP BY 1, 2)
SELECT labeled_lang, predicted_lang, n_docs,
  (n_docs * 10000) // CAST(sum(n_docs)
    OVER (PARTITION BY labeled_lang) AS BIGINT) AS row_share_bp
FROM g ORDER BY labeled_lang, predicted_lang"""

  def oracleSql: Map[String, String] =
    baseOracleSql +
      ("s09_recall_audit" -> recallAuditSql) +
      ("s14_rrf_fusion" -> rrfFusionSql) +
      ("s16_graph_search" -> graphExpandSql) +
      // r24 computes r22's EXACT semantics by a different plan (chained
      // MINs vs one-shuffle array walk) — same oracle, stated once
      ("r24_funnel_chained" -> baseOracleSql("r22_funnel"))

  /** s14's oracle, composed (the s09 trick): each fused family's
    * ranked list is its OWN oracle SQL embedded as a derived table,
    * so fusion and fused definitions cannot drift; rrf is integer
    * from the first division.
    */
  private def rrfFusionSql: String =
    s"""WITH a AS (SELECT query_id, neighbor_id, rn FROM (
${baseOracleSql("s02_ann_lsh")}
)),
b AS (SELECT query_id, neighbor_id, rn FROM (
${baseOracleSql("s03_ann_ivf")}
)),
f AS (SELECT coalesce(a.query_id, b.query_id) AS query_id,
    coalesce(a.neighbor_id, b.neighbor_id) AS neighbor_id,
    CAST(coalesce(10000 // (60 + a.rn), 0)
      + coalesce(10000 // (60 + b.rn), 0) AS BIGINT) AS rrf_milli
  FROM a FULL JOIN b ON a.query_id = b.query_id AND a.neighbor_id = b.neighbor_id),
r AS (SELECT query_id, neighbor_id, rrf_milli,
    row_number() OVER (PARTITION BY query_id ORDER BY rrf_milli DESC, neighbor_id) AS rn
  FROM f)
SELECT query_id, CAST(rn AS INT) AS rn, neighbor_id, rrf_milli
FROM r WHERE rn <= 3 ORDER BY query_id, rn"""

  /** s16's oracle, composed (the s09 trick): seeds are s02's OWN
    * oracle and edges are s15's OWN oracle, embedded as derived
    * tables — the search and its two index definitions cannot drift;
    * the re-rank replays s15's milli-quantized score space.
    */
  private def graphExpandSql: String =
    s"""WITH seeds AS (SELECT query_id, neighbor_id FROM (
${baseOracleSql("s02_ann_lsh")}
)),
g AS (SELECT vec_id, neighbor_id AS hop_id FROM (
${baseOracleSql("s15_knn_graph")}
)),
pool AS (SELECT DISTINCT query_id, cid FROM (
    SELECT query_id, neighbor_id AS cid FROM seeds
    UNION ALL
    SELECT s.query_id, g.hop_id AS cid FROM seeds s JOIN g ON g.vec_id = s.neighbor_id)
  WHERE cid <> query_id),
eq2 AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS mq
  FROM embeddings),
e4 AS (SELECT vec_id, mq,
    CAST(list_sum(list_transform(mq, x -> x * x)) AS BIGINT) AS nq FROM eq2),
sc2 AS (SELECT p.query_id, p.cid,
    CAST(CAST(list_sum(list_transform(range(1, len(a.mq) + 1),
        i -> a.mq[i] * b.mq[i])) AS BIGINT) AS DOUBLE)
      / sqrt(CAST(a.nq * b.nq AS DOUBLE)) AS cos
  FROM pool p JOIN e4 a ON a.vec_id = p.query_id JOIN e4 b ON b.vec_id = p.cid),
rr AS (SELECT query_id, cid, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cid) AS rn FROM sc2)
SELECT query_id, rn, cid AS neighbor_id,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM rr WHERE rn <= 3 ORDER BY query_id, rn"""

  /** t29's scorer + tercile CTE chain (t21's scorer CTE-for-CTE, then
    * the value-histogram rule) — shared verbatim by the t29 oracle and
    * c06's composed mix-plan oracle so the two cannot drift.
    */
  private def tercileCtes: String =
    """tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) WHERE len(t) >= 2),
dbg AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM dbg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
sc AS (SELECT dbg.doc_id,
    CAST(sum(dbg.k) AS BIGINT) AS n_bigrams,
    CAST(sum(dbg.k * ((length(bin(c1.c1)) - 1) - (length(bin(c12.c12)) - 1))) AS BIGINT) AS surprisal_units
  FROM dbg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) GROUP BY 1),
ds AS (SELECT d.doc_id,
    CAST(coalesce(sc.surprisal_units, 0) * 100 // greatest(coalesce(sc.n_bigrams, 0), 1) AS BIGINT) AS mean_centibits
  FROM documents d LEFT JOIN sc USING (doc_id)),
hist AS (SELECT mean_centibits, CAST(count(*) AS BIGINT) AS cnt FROM ds GROUP BY 1),
b AS (SELECT mean_centibits,
    coalesce(sum(cnt) OVER (ORDER BY mean_centibits
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt,
    sum(cnt) OVER () AS n_docs
  FROM hist),
b2 AS (SELECT mean_centibits, CAST(3 * c_lt // n_docs AS INT) AS tercile FROM b)"""

  /** t24/t25 helper: one BPE merge round as DuckDB CTEs over an input
    * CTE `in` with (word, n, arr) — pair count, top pair (count DESC,
    * pair ASC), and the PARITY-RULE replay of the greedy
    * left-to-right non-overlapping merge: within a run of consecutive
    * candidate positions every other one (odd row_number) is active;
    * a position is consumed iff its predecessor was active. Equivalent
    * to the Scala fold in operators.Bpe.mergePass (see its Scaladoc
    * for the argument). Emits CTE r$r with the same (word, n, arr)
    * shape so rounds chain.
    */
  private def bpeRound(r: Int, in: String): String =
    raw"""p$r AS (SELECT arr[i] AS a, arr[i+1] AS b, CAST(sum(n) AS BIGINT) AS cnt
  FROM $in, LATERAL (SELECT unnest(range(1, len(arr))) AS i)
  WHERE len(arr) >= 2 GROUP BY 1, 2),
t$r AS (SELECT a, b, cnt FROM p$r ORDER BY cnt DESC, a, b LIMIT 1),
pos$r AS (SELECT $in.word, $in.n, i, arr[CAST(i AS INT)] AS s,
    coalesce(i < len(arr) AND arr[CAST(i AS INT)] = t$r.a AND arr[CAST(i + 1 AS INT)] = t$r.b, false) AS cand,
    t$r.a AS ma, t$r.b AS mb
  FROM $in LEFT JOIN t$r ON true, LATERAL (SELECT unnest(range(1, len(arr) + 1)) AS i)),
g$r AS (SELECT *, CASE WHEN cand THEN i - row_number() OVER (PARTITION BY word, cand ORDER BY i) END AS grp FROM pos$r),
o$r AS (SELECT *, coalesce(cand AND row_number() OVER (PARTITION BY word, grp ORDER BY i) % 2 = 1, false) AS active FROM g$r),
q$r AS (SELECT *, coalesce(lag(active) OVER (PARTITION BY word ORDER BY i), false) AS consumed FROM o$r),
r$r AS (SELECT word, n, list(CASE WHEN active THEN ma || mb ELSE s END ORDER BY i) AS arr
  FROM q$r WHERE active OR NOT consumed GROUP BY word, n)"""

  /** t24/t25 shared base: corpus word counts + char-split symbols,
    * then two replayed merge rounds.
    */
  private def bpeCtes: String =
    raw"""w AS (SELECT word, CAST(count(*) AS BIGINT) AS n
  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents)
  WHERE word <> '' GROUP BY 1),
a0 AS (SELECT word, n, regexp_split_to_array(trim(regexp_replace(word, '(.)', '\1 ', 'g')), ' ') AS arr FROM w),
${bpeRound(1, "a0")},
${bpeRound(2, "r1")}"""

  /** s09's oracle, composed: shared brute-force truth (top-3 per
    * query) + one recall row per index family, each family's approx
    * set replayed by embedding that family's OWN oracle SQL as a
    * derived table — the audited index definitions and the audit
    * never drift apart. DuckDB scopes nested WITH names locally, so
    * the inner CTEs don't collide with the outer truth CTEs.
    */
  private def recallAuditSql: String = {
    val families =
      Seq("s02_ann_lsh", "s03_ann_ivf", "s06_ann_ivfpq", "s08_ann_sq8",
        "s24_ann_ivfsq8")
    val rec = families.map { f =>
      s"""SELECT '$f' AS family, t.query_id, count(*) AS n_true, count(a.neighbor_id) AS n_hits
  FROM truth t LEFT JOIN (SELECT query_id, neighbor_id FROM (
${baseOracleSql(f)}
  )) a ON t.query_id = a.query_id AND t.neighbor_id = a.neighbor_id
  GROUP BY t.query_id"""
    }.mkString("\nUNION ALL\n")
    """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
ts AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qv, e.embedding) AS cos
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
tr AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
    ORDER BY cos DESC, vec_id) AS rn FROM ts),
truth AS (SELECT query_id, vec_id AS neighbor_id FROM tr WHERE rn <= 3),
rec AS (
""" + rec + """
)
SELECT family, query_id, CAST(n_true AS INT) AS n_true, CAST(n_hits AS INT) AS n_hits,
  CAST(n_hits * 10000 // n_true AS BIGINT) AS recall_bp
FROM rec ORDER BY family, query_id"""
  }

  private def baseOracleSql: Map[String, String] = Map(
    "q31_docs_processed" ->
      """SELECT o_orderstatus, count(DISTINCT o_orderkey) AS quantity
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "q32_invoice_total_value" ->
      """SELECT o_custkey, round(sum(DISTINCT o_totalprice), 2) AS total_value
FROM orders GROUP BY o_custkey ORDER BY total_value DESC, o_custkey""",
    "q33_top_suppliers" ->
      """SELECT s_name AS supplier_name, round(sum(l_extendedprice), 2) AS total_spent
FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
GROUP BY s_name ORDER BY total_spent DESC, supplier_name LIMIT 5""",
    "q34_common_products" ->
      """SELECT p_name AS description, count(*) AS occurrences
FROM lineitem JOIN part ON l_partkey = p_partkey
GROUP BY p_name ORDER BY occurrences DESC, description LIMIT 5""",
    "q35_monthly_trend" ->
      """SELECT date_trunc('month', o_orderdate) AS month, round(sum(o_totalprice), 2) AS total_value
FROM orders GROUP BY 1 ORDER BY 1""",

    "p01_parse_float" ->
      """SELECT event_id,
  '$1,' || lpad(regexp_extract(props, '(\d+)', 1), 3, '0') || '.25' AS money_str,
  CAST('1' || lpad(regexp_extract(props, '(\d+)', 1), 3, '0') AS DOUBLE) + 0.25 AS parsed
FROM events ORDER BY event_id""",
    "p02_parse_date_multi" ->
      """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS parsed_date
FROM orders ORDER BY o_orderkey""",
    "p03_find_first_date" ->
      """SELECT l_orderkey, l_linenumber, CAST(l_shipdate AS DATE) AS found_date
FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "p04_tax_rate" ->
      """SELECT l_orderkey, l_linenumber,
  CAST(CAST(round(l_tax * 100, 0) AS INT) AS DOUBLE) AS tax_rate
FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "p05_invoice_line_parse" ->
      """SELECT l_orderkey, l_linenumber, p_name AS description,
  l_quantity AS qty, floor(l_extendedprice * 100) / 100.0 AS price,
  floor(l_quantity * l_extendedprice * 100) / 100.0 AS total
FROM lineitem JOIN part ON l_partkey = p_partkey
ORDER BY l_orderkey, l_linenumber""",
    "p06_doc_type_detect" ->
      """SELECT doc_id,
  CASE WHEN doc_id % 6 = 0 THEN 'DA00564 Award Letter.pdf'
       WHEN doc_id % 6 = 1 THEN 'DA00539_Bid Tabs.pdf'
       WHEN doc_id % 6 = 2 THEN 'DA00542 Invitation to Bid.pdf'
       WHEN doc_id % 6 = 3 THEN 'L230201A_Item C Report.pdf'
       WHEN doc_id % 6 = 4 THEN 'DA00543_Bids As Read.pdf'
       ELSE 'receipt_0001.jpg' END AS file_name,
  CASE WHEN doc_id % 6 = 0 THEN 'nc_award_letter'
       WHEN doc_id % 6 = 1 THEN 'nc_bid_tabs'
       WHEN doc_id % 6 = 2 THEN 'nc_invitation_to_bid'
       WHEN doc_id % 6 = 3 THEN 'nc_item_c'
       WHEN doc_id % 6 = 4 THEN 'nc_bids_as_read'
       ELSE 'invoice' END AS doc_type
FROM documents ORDER BY doc_id""",
    "p07_fix_null_total" ->
      """SELECT o_orderkey,
  CASE WHEN o_orderkey % 3 = 0
       THEN floor(o_totalprice * 90) / 100.0 + floor(o_totalprice * 10) / 100.0
       ELSE o_totalprice END AS total_amount
FROM orders ORDER BY o_orderkey""",
    "p08_invoice_number" ->
      """SELECT o_orderkey,
  CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_orderkey + 100000 AS VARCHAR)
       ELSE 'R' || lpad(CAST(o_orderkey + 100000 AS VARCHAR), 7, '0') END AS invoice_number
FROM orders ORDER BY o_orderkey""",
    "p09_ocr_line_grouping" ->
      """WITH w AS (SELECT user_id AS page, CAST(floor(value) AS INT) AS y0,
    event_id AS x0, event_type AS word FROM events),
x AS (SELECT *, lag(y0) OVER (PARTITION BY page ORDER BY y0, x0) AS prev_y FROM w),
y AS (SELECT *, CASE WHEN prev_y IS NULL OR y0 - prev_y > 10 THEN 1 ELSE 0 END AS new_line FROM x),
z AS (SELECT *, CAST(sum(new_line) OVER (PARTITION BY page ORDER BY y0, x0
    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS line_id FROM y)
SELECT page, line_id, count(*) AS n_words, min(y0) AS y_top, max(y0) AS y_bottom,
  string_agg(word, ' ' ORDER BY y0, x0) AS line_text
FROM z GROUP BY page, line_id ORDER BY page, line_id""",
    "p10_nc_label_extract" ->
      """SELECT o_orderkey,
  'DA' || lpad(CAST(o_orderkey AS VARCHAR), 5, '0') AS contract_id,
  'Craven' AS county, o_orderpriority AS description
FROM orders ORDER BY o_orderkey""",

    "p11_json_props" ->
      """SELECT event_id, CAST(regexp_extract(props, '(\d+)', 1) AS BIGINT) AS k
FROM events ORDER BY event_id""",
    "p12_nc_bid_lines" ->
      """SELECT o_custkey,
  'VENDOR ' || o_custkey || '-' || o_orderkey AS contractor_name,
  floor(o_totalprice * 100) / 100.0 AS amount_bid
FROM orders ORDER BY o_custkey, contractor_name""",
    "p13_nc_bid_tabs" ->
      """WITH x AS (SELECT l_orderkey, l_linenumber, p_name,
    CAST(CAST(l_quantity AS INT) AS DOUBLE) AS qty,
    floor(l_extendedprice / l_quantity * 100) / 100.0 AS u1,
    floor(l_extendedprice * 100) / 100.0 AS a1,
    floor(l_extendedprice * 1.1 / l_quantity * 100) / 100.0 AS u2,
    floor(l_extendedprice * 1.1 * 100) / 100.0 AS a2
  FROM lineitem JOIN part ON l_partkey = p_partkey),
b AS (SELECT *, unnest([1, 2]) AS bidder_index FROM x)
SELECT l_orderkey, l_linenumber, p_name AS description, qty, bidder_index,
  CASE WHEN bidder_index = 1 THEN u1 ELSE u2 END AS unit_price,
  CASE WHEN bidder_index = 1 THEN a1 ELSE a2 END AS amount
FROM b ORDER BY l_orderkey, l_linenumber, bidder_index""",
    "p14_receipt_lines" ->
      """SELECT l_orderkey, l_linenumber,
  CASE WHEN l_orderkey % 5 IN (0, 1, 2)
       THEN CAST(l_partkey + 10000 AS VARCHAR) END AS sku,
  CASE WHEN l_orderkey % 5 = 1 THEN 1.0
       ELSE CAST(CAST(l_quantity AS INT) AS DOUBLE) END AS qty,
  floor(l_extendedprice / l_quantity * 100) / 100.0 AS unit_price,
  floor(l_extendedprice * 100) / 100.0 AS line_total
FROM lineitem ORDER BY l_orderkey, l_linenumber""",
    "p15_nc_item_c" ->
      """WITH x AS (SELECT *, unnest(['A', 'B']) AS tag FROM orders)
SELECT o_orderkey,
  'STATE OF NORTH CAROLINA' AS state_header,
  'DEPARTMENT OF TRANSPORTATION' AS owner_header,
  CAST(o_orderdate AS DATE) AS letting_date,
  'DA' || lpad(CAST(o_orderkey AS VARCHAR), 5, '0') AS contract_id,
  'BRZ-' || CAST(o_orderkey AS VARCHAR) AS project_number,
  'Craven' AS county,
  o_orderpriority AS proposal_description,
  'NC-' || CAST(o_custkey AS VARCHAR) AS location,
  floor(o_totalprice * 100) / 100.0 AS owner_cost_estimate,
  CAST(o_orderdate AS DATE) + 180 AS final_completion,
  'VENDOR ' || o_custkey || '-' || tag AS vendor_name,
  CASE WHEN tag = 'A' THEN floor(o_totalprice * 0.95 * 100) / 100.0
       ELSE floor(o_totalprice * 1.05 * 100) / 100.0 END AS bid_value
FROM x ORDER BY o_orderkey, vendor_name""",
    "p16_nc_invitation_to_bid" ->
      """SELECT o_orderkey,
  'STATE OF NORTH CAROLINA' AS state_header,
  'DEPARTMENT OF TRANSPORTATION' AS owner_header,
  'Division ' || CAST(o_custkey % 14 + 1 AS VARCHAR) AS division,
  'DA' || lpad(CAST(o_orderkey AS VARCHAR), 5, '0') AS contract_id,
  o_orderpriority AS proposal_description,
  CAST(o_orderdate AS DATE) + 365 AS completion_date,
  CAST(o_orderdate AS DATE) AS letting_date
FROM orders ORDER BY o_orderkey""",
    "p17_nc_award_letter" ->
      """SELECT o_orderkey,
  'STATE OF NORTH CAROLINA' AS state_header,
  'DEPARTMENT OF TRANSPORTATION' AS owner_header,
  'DA' || lpad(CAST(o_orderkey AS VARCHAR), 5, '0') AS contract_id,
  'STATE FUNDED' AS project_number,
  'Craven' AS county,
  o_orderpriority AS description,
  'VENDOR ' || CAST(o_custkey AS VARCHAR) AS vendor,
  CAST(o_orderdate AS DATE) AS letting_date,
  floor(o_totalprice * 100) / 100.0 AS award_value
FROM orders ORDER BY o_orderkey""",
    "p18_invoice_metadata" ->
      """SELECT o_orderkey,
  'SUPPLIER ' || o_custkey || ' CORP 12 MAIN ST UNIT ' || o_custkey AS supplier_name,
  CAST(o_custkey + 1000000000 AS VARCHAR) AS supplier_tin,
  CAST(o_orderkey + 100000 AS VARCHAR) AS invoice_number,
  CAST(o_orderdate AS DATE) AS invoice_date,
  CAST(o_orderdate AS DATE) + 30 AS due_date,
  CAST(o_orderkey % 3 * 2 + 4 AS DOUBLE) AS tax_label,
  floor(o_totalprice * 100) / 100.0 AS subtotal_amount,
  floor(o_totalprice * 1.06 * 100) / 100.0 AS total_amount
FROM orders ORDER BY o_orderkey""",
    "p19_invoice_lines" ->
      """SELECT l_orderkey AS o_orderkey, l_linenumber, p_name AS description,
  l_quantity AS qty, floor(l_extendedprice * 100) / 100.0 AS price,
  floor(l_quantity * l_extendedprice * 100) / 100.0 AS total
FROM lineitem JOIN part ON l_partkey = p_partkey
ORDER BY o_orderkey, l_linenumber""",
    "p20_ocr_tsv" ->
      """SELECT 'page_' || CAST(user_id AS VARCHAR) AS filename,
  CAST(user_id AS INT) AS page,
  1 AS block_num, 1 AS par_num, 1 AS line_num,
  CAST(event_id AS INT) AS word_num,
  CAST(event_id AS INT) AS x0,
  CAST(floor(value) AS INT) AS y0,
  CAST(event_id + len(event_type) * 7 AS INT) AS x2,
  CAST(floor(value) + 12 AS INT) AS y2,
  CAST(90 + event_id % 10 AS DOUBLE) AS conf,
  event_type AS text
FROM events ORDER BY filename, x0""",
    "r14_table_diff" ->
      """WITH old AS (SELECT o_orderkey AS key, o_totalprice AS old_total FROM orders),
kept AS (SELECT o_orderkey AS key,
    CASE WHEN o_orderkey % 31 = 0 THEN (floor(o_totalprice * 100) + 1) / 100.0
         ELSE o_totalprice END AS new_total
  FROM orders WHERE o_orderkey % 97 <> 0),
ins AS (SELECT o_orderkey + 10000000 AS key, o_totalprice AS new_total
  FROM orders WHERE o_orderkey % 89 = 0),
nw AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
j AS (SELECT coalesce(o.key, n.key) AS key, o.old_total, n.new_total
  FROM old o FULL OUTER JOIN nw n ON o.key = n.key)
SELECT key,
  CASE WHEN old_total IS NULL THEN 'added'
       WHEN new_total IS NULL THEN 'removed'
       WHEN old_total <> new_total THEN 'changed' END AS status,
  old_total, new_total
FROM j
WHERE old_total IS NULL OR new_total IS NULL OR old_total <> new_total
ORDER BY key""",
    "r15_cube" ->
      """SELECT c_mktsegment, n_name, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS total_value
FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
GROUP BY CUBE(c_mktsegment, n_name)
ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST""",
    "r13_exact_stats" ->
      """SELECT o_orderstatus,
  count(DISTINCT o_custkey) AS exact_customers,
  floor(quantile_cont(o_totalprice, 0.5) * 100) / 100.0 AS exact_median
FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    // r12: deterministic KMV + fixed-width histogram sketches — the
    // same salted-md5 hashes and integer rules as the Spark side, so
    // r37: r12's deterministic KMV extended to the set algebra —
    // per-type k-min sketches, pair union by re-ranking the kept
    // sets, inclusion-exclusion intersection; the r12 integer
    // estimator on both
    "r37_sketch_overlap" ->
      """WITH h AS (SELECT DISTINCT event_type AS t,
    CAST('0x' || substr(md5('r37' || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM events),
kept AS (SELECT t, h FROM (SELECT t, h,
    row_number() OVER (PARTITION BY t ORDER BY h) AS rn FROM h)
  WHERE rn <= 1024),
pe AS (SELECT t, CASE WHEN count(*) < 1024 THEN count(*)
    ELSE CAST(1023 * 4294967296 // max(h) AS BIGINT) END AS est
  FROM kept GROUP BY t),
pairs AS (SELECT a.t AS ta, a.est AS est_a, b.t AS tb, b.est AS est_b
  FROM pe a JOIN pe b ON a.t < b.t),
pk AS (SELECT DISTINCT p.ta, p.tb, k.h
  FROM pairs p JOIN kept k ON k.t = p.ta OR k.t = p.tb),
uk AS (SELECT ta, tb, h FROM (SELECT ta, tb, h,
    row_number() OVER (PARTITION BY ta, tb ORDER BY h) AS rn FROM pk)
  WHERE rn <= 1024),
eu AS (SELECT ta, tb, CASE WHEN count(*) < 1024 THEN count(*)
    ELSE CAST(1023 * 4294967296 // max(h) AS BIGINT) END AS est_union
  FROM uk GROUP BY ta, tb)
SELECT p.ta AS type_a, p.tb AS type_b,
  CAST(p.est_a AS BIGINT) AS est_a, CAST(p.est_b AS BIGINT) AS est_b,
  CAST(e.est_union AS BIGINT) AS est_union,
  CAST(greatest(0, p.est_a + p.est_b - e.est_union) AS BIGINT) AS est_overlap,
  CAST(greatest(0, p.est_a + p.est_b - e.est_union) * 10000
    // greatest(e.est_union, 1) AS BIGINT) AS jaccard_bp
FROM pairs p JOIN eu e USING (ta, tb)
ORDER BY type_a, type_b""",
    // the approximate answers hash-match exactly (no engine HLL/GK)
    "r12_approx_stats" ->
      """WITH h AS (SELECT DISTINCT o_orderstatus AS st,
    CAST('0x' || substr(md5('r12' || CAST(o_custkey AS VARCHAR)), 1, 8) AS BIGINT) AS h
  FROM orders),
r AS (SELECT st, h, row_number() OVER (PARTITION BY st ORDER BY h) AS rn FROM h),
k AS (SELECT st, count(*) AS n_kept, max(h) AS hk FROM r WHERE rn <= 1024 GROUP BY st),
kmv AS (SELECT st, CAST(CASE WHEN n_kept < 1024 THEN n_kept
    ELSE 1023 * 4294967296 // hk END AS BIGINT) AS approx_customers FROM k),
c AS (SELECT o_orderstatus AS st, CAST(floor(o_totalprice * 100) AS BIGINT) AS c FROM orders),
mxw AS (SELECT greatest(1, max(c) // 256) AS w FROM c),
bk AS (SELECT st, (SELECT w FROM mxw) AS w, c // (SELECT w FROM mxw) AS b,
    count(*) AS nb FROM c GROUP BY 1, 2, 3),
cm AS (SELECT st, w, b, nb, sum(nb) OVER (PARTITION BY st ORDER BY b) AS cum,
    sum(nb) OVER (PARTITION BY st) AS n FROM bk),
md AS (SELECT st, w, min(b) AS mb FROM cm WHERE cum >= (n + 1) // 2 GROUP BY st, w)
SELECT kmv.st AS o_orderstatus, kmv.approx_customers,
  CAST(md.mb * md.w + md.w // 2 AS BIGINT) AS approx_median_cents
FROM kmv JOIN md ON kmv.st = md.st
ORDER BY o_orderstatus""",
    "r10_salted_agg" ->
      """SELECT l_suppkey, round(sum(l_extendedprice), 2) AS total_price,
  count(*) AS n_items
FROM lineitem GROUP BY l_suppkey ORDER BY l_suppkey""",
    "r11_region_rollup" ->
      """SELECT r_name AS region_name, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS total_value,
  count(DISTINCT c_custkey) AS n_customers
FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name ORDER BY r_name""",
    "w02_sliding_window" ->
      """WITH e AS (SELECT ts, event_type, value,
    unnest([0, 1, 2]) AS o FROM events),
w AS (SELECT make_timestamp((CAST(floor(epoch(ts) / 600) AS BIGINT) - o) * 600 * 1000000)
    AS window_start, event_type, value FROM e)
SELECT window_start, event_type, count(*) AS n_events,
  round(sum(value), 2) AS total_value
FROM w GROUP BY 1, 2 ORDER BY 1, 2""",
    "r01_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
  round(sum(l_quantity), 2) AS sum_qty,
  round(sum(l_extendedprice), 2) AS sum_base_price,
  round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
  round(avg(l_quantity), 4) AS avg_qty,
  round(avg(l_discount), 4) AS avg_disc,
  count(*) AS count_order
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus""",
    "r02_enrich_join" ->
      """SELECT l_orderkey, l_linenumber, p_name AS part_name, p_brand AS brand,
  s_name AS supplier_name,
  floor(l_extendedprice * (1 - l_discount) * 100) / 100.0 AS net_price
FROM lineitem JOIN part ON l_partkey = p_partkey
  JOIN supplier ON l_suppkey = s_suppkey
WHERE l_quantity > 45 ORDER BY l_orderkey, l_linenumber""",
    "r03_topn_per_group" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
  SELECT o_custkey, o_orderkey, o_totalprice,
    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rn
  FROM orders) WHERE rn <= 3 ORDER BY o_custkey, rn""",
    "r04_semi_anti" ->
      """SELECT c_custkey, c_name, 1 AS has_open_order FROM customer
WHERE c_custkey IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
UNION ALL
SELECT c_custkey, c_name, 0 AS has_open_order FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders WHERE o_orderstatus = 'O')
ORDER BY c_custkey""",
    "r05_rollup" ->
      """SELECT c_mktsegment, n_name, count(*) AS n_orders,
  round(sum(o_totalprice), 2) AS total_value
FROM orders JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
GROUP BY ROLLUP(c_mktsegment, n_name)
ORDER BY c_mktsegment NULLS FIRST, n_name NULLS FIRST""",
    "r06_pivot" ->
      """SELECT user_id,
  count(CASE WHEN event_type = 'click' THEN 1 END) AS n_click,
  count(CASE WHEN event_type = 'view' THEN 1 END) AS n_view,
  count(CASE WHEN event_type = 'purchase' THEN 1 END) AS n_purchase,
  count(CASE WHEN event_type = 'signup' THEN 1 END) AS n_signup,
  count(CASE WHEN event_type = 'error' THEN 1 END) AS n_error,
  round(coalesce(sum(CASE WHEN event_type = 'purchase' THEN value END), 0), 2) AS sum_purchase
FROM events GROUP BY user_id ORDER BY user_id""",
    "r07_asof_join" ->
      """WITH ev AS (SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'),
ord AS (SELECT o_custkey AS uid, CAST(o_orderdate AS TIMESTAMP) AS ots,
  max(o_orderkey) AS o_orderkey, arg_max(o_totalprice, o_orderkey) AS o_totalprice
  FROM orders GROUP BY 1, 2)
SELECT e.event_id, e.user_id, e.value, o.o_orderkey AS matched_orderkey,
  o.o_totalprice AS matched_ordertotal
FROM ev e ASOF JOIN ord o ON e.user_id = o.uid AND e.ts >= o.ots
ORDER BY e.event_id""",
    "r08_sessionize" -> sessionizeSql,
    // r20 computes the SAME result as r08 through the chunked plan —
    // sharing the oracle text IS the claim being checked
    "r20_sessionize_chunked" -> sessionizeSql,
    "r09_running_window" ->
      """SELECT user_id, event_id, CAST(ts AS TIMESTAMP) AS ts, value,
  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING), 2) AS running_value,
  round(avg(value) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN 4 PRECEDING AND CURRENT ROW), 4) AS moving_avg5
FROM events ORDER BY user_id, ts, event_id""",
    "w01_tumbling_window" ->
      """SELECT CAST(date_trunc('hour', ts) AS TIMESTAMP) AS window_start, event_type,
  count(*) AS n_events, round(sum(value), 2) AS total_value
FROM events GROUP BY 1, 2 ORDER BY 1, 2""",

    "c01_curation" ->
      """WITH m AS (SELECT doc_id, lang,
    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_words,
    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS INT) AS n_stopwords,
    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct
  FROM documents),
g AS (SELECT doc_id, lang, content_hash, n_tokens,
    CAST(round(round(0.4 * least(CAST(n_words AS DOUBLE) / 50.0, 1.0)
      + 0.4 * least((CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0)) * 4, 1.0)
      + 0.2 * (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0), 1.0)), 4) * 10000, 0) AS BIGINT) AS quality_bp
  FROM m),
f AS (SELECT * FROM g WHERE quality_bp >= 4000),
k AS (SELECT *, row_number() OVER (PARTITION BY content_hash
    ORDER BY quality_bp DESC, doc_id) AS rn FROM f),
d AS (SELECT doc_id, lang, n_tokens, quality_bp FROM k WHERE rn = 1),
sm AS (SELECT *,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
    CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 25
         WHEN lang = 'es' THEN 25 ELSE 10 END AS keep_pct
  FROM d),
sa AS (SELECT doc_id, lang, n_tokens, quality_bp, doc_id % 8 AS shard_id
  FROM sm WHERE bucket < keep_pct),
c AS (SELECT *, sum(n_tokens) OVER (PARTITION BY lang, shard_id
    ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens AS prev_cum
  FROM sa)
SELECT doc_id, lang, CAST(shard_id AS BIGINT) AS shard_id, quality_bp,
  n_tokens,
  CAST(floor(prev_cum / 512.0) AS BIGINT) AS bin_id,
  CAST(prev_cum % 512 AS BIGINT) AS bin_offset
FROM c ORDER BY lang, shard_id, doc_id""",
    "d01_exact_dedup" ->
      """SELECT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
  min(doc_id) AS keeper_doc_id, count(*) AS n_copies
FROM documents GROUP BY 1 ORDER BY keeper_doc_id""",
    "d06_fuzzy_match" ->
      """SELECT a.s_suppkey AS key_a, b.s_suppkey AS key_b,
  a.s_name AS name_a, b.s_name AS name_b,
  CAST(levenshtein(a.s_name, b.s_name) AS INT) AS edit_dist
FROM supplier a JOIN supplier b ON a.s_suppkey < b.s_suppkey
WHERE levenshtein(a.s_name, b.s_name) <= 3
ORDER BY key_a, key_b""",
    "d02_minhash_lsh" -> minhashLshSql,
    "t18_split_leakage" -> splitLeakageSql,
    "d07_dup_clusters" -> dupClustersSql,
    "c08_safe_split" -> safeSplitSql,
    // c09: per-source token volume -> md5 policy weight -> budgeted
    // target with the 4-epoch repeat cap; pure integer after the agg
    "c09_token_budget" ->
      """WITH a AS (SELECT source,
    CAST(sum(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS avail_tokens
  FROM documents GROUP BY 1),
w AS (SELECT source, avail_tokens,
    1 + CAST('0x' || substr(md5(source), 1, 8) AS BIGINT) % 10000 % 16 AS weight
  FROM a),
t AS (SELECT CAST(sum(avail_tokens * weight) AS BIGINT) AS sw,
    CAST(3 * sum(avail_tokens) AS BIGINT) AS budget FROM w),
p AS (SELECT w.source, w.avail_tokens, w.weight,
    CAST(t.budget * (w.avail_tokens * w.weight) // t.sw AS BIGINT) AS target_tokens,
    CAST(least(t.budget * (w.avail_tokens * w.weight) // t.sw,
      4 * w.avail_tokens) AS BIGINT) AS served_tokens
  FROM w, t)
SELECT source, avail_tokens, weight, target_tokens, served_tokens,
  CAST(served_tokens * 10000 // greatest(avail_tokens, 1) AS BIGINT) AS epochs_bp,
  CAST((target_tokens - served_tokens) * 10000 // greatest(target_tokens, 1) AS BIGINT) AS shortfall_bp,
  target_tokens > served_tokens AS capped
FROM p ORDER BY source""",
    "d08_keep_best" ->
      """WITH m AS (SELECT doc_id,
    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_words,
    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS INT) AS n_stopwords,
    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct
  FROM documents),
q AS (SELECT doc_id, content_hash,
    CAST(round(round(0.4 * least(CAST(n_words AS DOUBLE) / 50.0, 1.0)
      + 0.4 * least((CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0)) * 4, 1.0)
      + 0.2 * (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0), 1.0)), 4) * 10000, 0) AS BIGINT) AS quality_bp
  FROM m),
r AS (SELECT *, row_number() OVER (PARTITION BY content_hash
      ORDER BY quality_bp DESC, doc_id) AS rn,
    count(*) OVER (PARTITION BY content_hash) AS n_copies FROM q)
SELECT content_hash, doc_id AS keeper_doc_id, quality_bp AS best_quality_bp,
  n_copies
FROM r WHERE rn = 1 ORDER BY keeper_doc_id""",
    "d03_simhash" -> simhashSql,
    // stop-shingle cap is the CONTRACT rule (r10 verdict item 2):
    // cap = greatest(8, ceil(log2 n_docs)) via length(bin(n-1)) —
    // the same integer arithmetic as Dedup.jaccardDfCap
    "d04_ngram_jaccard" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS shingle FROM toks WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cap AS (SELECT greatest(8, length(bin(count(*) - 1))) AS c FROM documents),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= (SELECT c FROM cap)),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter, (sa.sz + sb.sz - inter) AS union_sz,
  CAST(floor(inter * 10000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) AS jaccard_bp
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 5 >= (sa.sz + sb.sz - inter) ORDER BY doc_a, doc_b""",
    // d14's cap is 2x d04's: containment needs the intersection count
    // intact for dup families (see Dedup.containmentDfCap)
    "d14_containment" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS shingle FROM toks WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
cap AS (SELECT greatest(8, 2 * length(bin(count(*) - 1))) AS c FROM documents),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= (SELECT c FROM cap)),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
  FROM shr a JOIN shr b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2)
SELECT doc_a, doc_b, inter,
  CAST(floor(inter * 10000.0 / sa.sz) AS BIGINT) AS cont_a_bp,
  CAST(floor(inter * 10000.0 / sb.sz) AS BIGINT) AS cont_b_bp
FROM inter JOIN sizes sa ON sa.doc_id = doc_a JOIN sizes sb ON sb.doc_id = doc_b
WHERE inter * 5 >= sa.sz * 4 OR inter * 5 >= sb.sz * 4
ORDER BY doc_a, doc_b""",
    // d15: d04's truth pairs LEFT JOIN d02's band candidates (both
    // replayed from the shared minhash/shingle CTEs), per-decile
    // recall — the audit and the audited generators cannot drift
    "d15_lsh_recall" ->
      s"""WITH $recallGateCtes,
truth AS (SELECT doc_a, doc_b,
    CAST(CAST(floor(inter * 10000.0 / (sa.sz + sb.sz - inter)) AS BIGINT) // 1000 AS INT) AS band
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter * 5 >= (sa.sz + sb.sz - inter)),
aud AS (SELECT t.band, CAST(count(*) AS BIGINT) AS n_true,
    CAST(sum(CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_found
  FROM truth t LEFT JOIN cand c ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b
  GROUP BY 1)
SELECT band, n_true, n_found,
  CAST(n_found * 10000 // n_true AS BIGINT) AS recall_bp
FROM aud ORDER BY band""",
    // d17: d15's other half — precision of the band candidates and
    // the ≥8/16-verified set against the same d04 truth, same planted
    // d18: the Spark side labels the lake-only and the full graph as
    // two tagged graphs of one Dedup.components call (whose union-find
    // ClusterStream folds deliveries with); the oracle replays TWO
    // full recursive closures (all docs, lake-only docs) from scratch,
    // so the gate proves both labelings equal the transitive closure
    "d18_incremental_clusters" ->
      s"""WITH RECURSIVE $minhashCtes,
sims AS (SELECT c.doc_a, c.doc_b
  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a JOIN sig sb ON sb.doc_id = c.doc_b
  WHERE ($matchesExpr) >= 8),
edges AS (SELECT doc_a AS a, doc_b AS b FROM sims
  UNION ALL SELECT doc_b, doc_a FROM sims),
reach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT r.src, e.b FROM reach r JOIN edges e ON r.dst = e.a
),
full_cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src),
ledges AS (SELECT a, b FROM edges WHERE a % 10 <> 0 AND b % 10 <> 0),
lreach(src, dst) AS (
  SELECT doc_id, doc_id FROM documents WHERE doc_id % 10 <> 0
  UNION
  SELECT r.src, e.b FROM lreach r JOIN ledges e ON r.dst = e.a
),
lake_cl AS (SELECT src AS doc_id, min(dst) AS cluster_id FROM lreach GROUP BY src)
SELECT f.doc_id, f.cluster_id, (f.doc_id % 10 = 0) AS is_delta,
  (f.cluster_id <> coalesce(l.cluster_id, f.doc_id)) AS relabeled
FROM full_cl f LEFT JOIN lake_cl l ON l.doc_id = f.doc_id
ORDER BY f.doc_id""",
    // gate corpus, same shared CTEs (audit and audited cannot drift)
    "d17_lsh_precision" ->
      s"""WITH $recallGateCtes,
truth AS (SELECT doc_a, doc_b
  FROM inter JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
  WHERE inter * 5 >= (sa.sz + sb.sz - inter)),
pm AS (SELECT c.doc_a, c.doc_b, ($matchesExpr) AS matches
  FROM cand c JOIN sig sa ON sa.doc_id = c.doc_a
    JOIN sig sb ON sb.doc_id = c.doc_b),
st AS (SELECT '1_candidate' AS stage, doc_a, doc_b FROM pm
  UNION ALL SELECT '2_verified', doc_a, doc_b FROM pm WHERE matches >= 8),
a AS (SELECT stage, CAST(count(*) AS BIGINT) AS n_pairs,
    CAST(sum(CASE WHEN t.doc_a IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      AS n_true
  FROM st LEFT JOIN truth t ON st.doc_a = t.doc_a AND st.doc_b = t.doc_b
  GROUP BY 1)
SELECT stage, n_pairs, n_true,
  CAST(n_true * 10000 // n_pairs AS BIGINT) AS precision_bp
FROM a ORDER BY stage""",
    // corpus-adaptive banding replayed in SQL with INTEGER arithmetic
    // only: ceil(log2 n) = length(bin(n-1)) — same value as the Scala
    // side's numberOfLeadingZeros formula on every boundary (a float
    // log2 could ceil 512 to 10); bits = max(3, ceil(log2 n) - 3),
    // bands = min(64 // bits, bits + 1), band j = coords
    // [j*bits+1, (j+1)*bits] — see Dedup.adaptiveBands
    "d05_embedding_dup" ->
      """WITH e AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000000,
    list_concat([CAST(CAST(embedding[1] AS DOUBLE) + 0.05 AS FLOAT)],
      embedding[2:])
  FROM embeddings WHERE vec_id < 5),
p AS (SELECT greatest(3, length(bin(count(*) - 1)) - 3) AS bits FROM e),
p2 AS (SELECT bits, least(64 // bits, bits + 1) AS nb FROM p),
bd AS (SELECT unnest(range(nb)) AS band, bits FROM p2),
b AS (SELECT e.vec_id, bd.band,
    list_sum(list_transform(range(bd.bits),
      r -> CASE WHEN e.embedding[CAST(bd.band * bd.bits + r + 1 AS INT)] >= 0
           THEN 1 << r ELSE 0 END)) AS bucket
  FROM e CROSS JOIN bd),
cand AS (SELECT DISTINCT a.vec_id AS vec_a, bb.vec_id AS vec_b
  FROM b a JOIN b bb ON a.band = bb.band AND a.bucket = bb.bucket AND a.vec_id < bb.vec_id)
SELECT c.vec_a, c.vec_b,
  CAST(floor(list_cosine_similarity(ea.embedding, eb.embedding) * 10000) AS BIGINT) AS cos_bp
FROM cand c JOIN e ea ON ea.vec_id = c.vec_a JOIN e eb ON eb.vec_id = c.vec_b
WHERE floor(list_cosine_similarity(ea.embedding, eb.embedding) * 10000) >= 9000
ORDER BY vec_a, vec_b""",
    // s15: d05's adaptive band layout over the RAW corpus (no gate
    // plants, no threshold), DIRECTED candidates, top-3 per source
    "s15_knn_graph" ->
      """WITH p AS (SELECT greatest(3, length(bin(count(*) - 1)) - 3) AS bits FROM embeddings),
p2 AS (SELECT bits, least(64 // bits, bits + 1) AS nb FROM p),
bd AS (SELECT unnest(range(nb)) AS band, bits FROM p2),
b AS (SELECT e.vec_id, bd.band,
    list_sum(list_transform(range(bd.bits),
      r -> CASE WHEN e.embedding[CAST(bd.band * bd.bits + r + 1 AS INT)] >= 0
           THEN 1 << r ELSE 0 END)) AS bucket
  FROM embeddings e CROSS JOIN bd),
cand AS (SELECT DISTINCT a.vec_id AS src, bb.vec_id AS dst
  FROM b a JOIN b bb ON a.band = bb.band AND a.bucket = bb.bucket AND a.vec_id <> bb.vec_id),
eq AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS mq
  FROM embeddings),
e3 AS (SELECT vec_id, mq,
    CAST(list_sum(list_transform(mq, x -> x * x)) AS BIGINT) AS nq FROM eq),
sc AS (SELECT c.src, c.dst,
    CAST(CAST(list_sum(list_transform(range(1, len(a.mq) + 1),
        i -> a.mq[i] * b.mq[i])) AS BIGINT) AS DOUBLE)
      / sqrt(CAST(a.nq * b.nq AS DOUBLE)) AS cos
  FROM cand c JOIN e3 a ON a.vec_id = c.src
    JOIN e3 b ON b.vec_id = c.dst),
r AS (SELECT src, dst, cos,
    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sc)
SELECT src AS vec_id, rn, dst AS neighbor_id,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM r WHERE rn <= 3 ORDER BY vec_id, rn""",
    // s19: s15's band layout + integer-cosine scoring, candidates
    // restricted to CROSS-LABEL collisions, top-2 per anchor
    "s19_hard_negatives" ->
      """WITH p AS (SELECT greatest(3, length(bin(count(*) - 1)) - 3) AS bits FROM embeddings),
p2 AS (SELECT bits, least(64 // bits, bits + 1) AS nb FROM p),
bd AS (SELECT unnest(range(nb)) AS band, bits FROM p2),
b AS (SELECT e.vec_id, bd.band,
    list_sum(list_transform(range(bd.bits),
      r -> CASE WHEN e.embedding[CAST(bd.band * bd.bits + r + 1 AS INT)] >= 0
           THEN 1 << r ELSE 0 END)) AS bucket
  FROM embeddings e CROSS JOIN bd),
cand AS (SELECT DISTINCT a.vec_id AS src, bb.vec_id AS dst
  FROM b a JOIN b bb ON a.band = bb.band AND a.bucket = bb.bucket AND a.vec_id <> bb.vec_id),
cl AS (SELECT c.src, c.dst, la.label AS src_label, lb.label AS neg_label
  FROM cand c JOIN embeddings la ON la.vec_id = c.src
    JOIN embeddings lb ON lb.vec_id = c.dst
  WHERE la.label <> lb.label),
eq AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS mq
  FROM embeddings),
e3 AS (SELECT vec_id, mq,
    CAST(list_sum(list_transform(mq, x -> x * x)) AS BIGINT) AS nq FROM eq),
sc AS (SELECT c.src, c.dst, c.src_label, c.neg_label,
    CAST(CAST(list_sum(list_transform(range(1, len(ea.mq) + 1),
        i -> ea.mq[i] * eb.mq[i])) AS BIGINT) AS DOUBLE)
      / sqrt(CAST(ea.nq * eb.nq AS DOUBLE)) AS cos
  FROM cl c JOIN e3 ea ON ea.vec_id = c.src
    JOIN e3 eb ON eb.vec_id = c.dst),
r AS (SELECT src, dst, src_label, neg_label, cos,
    row_number() OVER (PARTITION BY src ORDER BY cos DESC, dst) AS rn FROM sc)
SELECT src AS vec_id, src_label AS label, rn, dst AS negative_id, neg_label,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM r WHERE rn <= 2 ORDER BY vec_id, rn""",
    "s17_impact_index" ->
      """WITH tkn AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term FROM documents),
tf AS (SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf FROM tkn
  WHERE term <> '' GROUP BY 1, 2),
df AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
r AS (SELECT term, doc_id, tf,
    row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id) AS rn FROM tf)
SELECT r.term, df.df, r.rn, r.doc_id, r.tf
FROM r JOIN df USING (term) WHERE r.rn <= 20 ORDER BY term, rn""",

    "s01_ann_bruteforce" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
s AS (SELECT q.query_id, e.vec_id,
    list_cosine_similarity(q.qv, e.embedding) AS cos
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM s)
SELECT query_id, rn, vec_id AS neighbor_id,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM r WHERE rn <= 5 ORDER BY query_id, rn""",
    "s10_range_search" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
s AS (SELECT q.query_id, e.vec_id,
    CAST(floor(list_cosine_similarity(q.qv, e.embedding) * 10000) AS BIGINT) AS cos_bp
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id)
SELECT query_id, vec_id AS neighbor_id, cos_bp
FROM s WHERE cos_bp >= 2000 ORDER BY query_id, neighbor_id""",
    // s11: the three greedy MMR rounds replayed CTE-for-CTE —
    // λ=0.7 in tenths (mmr = 7·rel_bp − 3·max_sim_bp), ties on cid
    "s11_mmr_rerank" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
sc AS (SELECT q.query_id, e.vec_id AS cid, e.embedding AS cv,
    list_cosine_similarity(q.qv, e.embedding) AS cos
  FROM embeddings e JOIN q ON e.vec_id <> q.query_id),
pool AS (SELECT query_id, cid, cv, CAST(floor(cos * 10000) AS BIGINT) AS rel_bp
  FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, cid) AS rnk FROM sc)
  WHERE rnk <= 10),
sims AS (SELECT x.query_id AS sq, x.cid AS sc, y.cid AS ss,
    CAST(floor(list_cosine_similarity(x.cv, y.cv) * 10000) AS BIGINT) AS sim_bp
  FROM pool x JOIN pool y ON x.query_id = y.query_id AND x.cid <> y.cid),
s1 AS (SELECT query_id, cid AS s1, 7 * rel_bp AS mmr1 FROM pool
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY rel_bp DESC, cid) = 1),
m2 AS (SELECT p.query_id, p.cid, 7 * p.rel_bp - 3 * sm.sim_bp AS mmr
  FROM pool p JOIN s1 ON s1.query_id = p.query_id AND p.cid <> s1.s1
  JOIN sims sm ON sm.sq = p.query_id AND sm.sc = p.cid AND sm.ss = s1.s1),
s2 AS (SELECT query_id, cid AS s2, mmr AS mmr2 FROM m2
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, cid) = 1),
sel AS (SELECT s1.query_id, s1.s1, s2.s2 FROM s1 JOIN s2 USING (query_id)),
pen AS (SELECT sm.sq, sm.sc, max(sm.sim_bp) AS pen
  FROM sims sm JOIN sel ON sel.query_id = sm.sq AND (sm.ss = sel.s1 OR sm.ss = sel.s2)
  GROUP BY 1, 2),
m3 AS (SELECT p.query_id, p.cid, 7 * p.rel_bp - 3 * pen.pen AS mmr
  FROM pool p JOIN sel ON sel.query_id = p.query_id AND p.cid <> sel.s1 AND p.cid <> sel.s2
  JOIN pen ON pen.sq = p.query_id AND pen.sc = p.cid),
s3 AS (SELECT query_id, cid AS s3, mmr AS mmr3 FROM m3
  QUALIFY row_number() OVER (PARTITION BY query_id ORDER BY mmr DESC, cid) = 1)
SELECT query_id, rn, neighbor_id, mmr_units FROM (
  SELECT query_id, CAST(1 AS INT) AS rn, s1 AS neighbor_id, mmr1 AS mmr_units FROM s1
  UNION ALL SELECT query_id, CAST(2 AS INT), s2, mmr2 FROM s2
  UNION ALL SELECT query_id, CAST(3 AS INT), s3, mmr3 FROM s3)
ORDER BY query_id, rn""",
    // s12: s01's scan restricted to the query's label (pre-filter
    // strategy) — top-3 within the filtered slice
    "s12_filtered_ann" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv, label AS qlabel
  FROM embeddings WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
s AS (SELECT q.query_id, e.vec_id,
    list_cosine_similarity(q.qv, e.embedding) AS cos
  FROM embeddings e JOIN q ON e.label = q.qlabel AND e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM s)
SELECT query_id, rn, vec_id AS neighbor_id,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM r WHERE rn <= 3 ORDER BY query_id, rn""",
    // s13: integer-rational BM25 (k1=6/5, b=3/4 multiplied through;
    // idf = t09's 1000·(N+1) DIV (df+1) surrogate)
    "s13_bm25" ->
      """WITH q(qid, term) AS (VALUES ('q1','hash'),('q1','join'),('q1','spark'),('q2','window'),('q2','agg'),('q2','stream'),('q3','fast'),('q3','vector'),('q3','scan')),
tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
dl AS (SELECT doc_id, CAST(len(t) AS BIGINT) AS len FROM tk),
tot AS (SELECT CAST(count(*) AS BIGINT) AS nn, CAST(sum(len) AS BIGINT) AS tt FROM dl),
tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT doc_id, unnest(t) AS term FROM tk)
  WHERE term IN (SELECT DISTINCT term FROM q) GROUP BY 1, 2),
dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
sc AS (SELECT q.qid, tf.doc_id,
    CAST(sum((1000 * (tot.nn + 1) // (dft.df + 1)) * 44 * tf.tf * tot.tt
      // (20 * tot.tt * tf.tf + 6 * tot.tt + 18 * dl.len * tot.nn)) AS BIGINT) AS score_milli
  FROM tf JOIN q USING (term) JOIN dft USING (term) JOIN dl USING (doc_id) CROSS JOIN tot
  GROUP BY 1, 2),
r AS (SELECT qid, doc_id, score_milli,
    row_number() OVER (PARTITION BY qid ORDER BY score_milli DESC, doc_id) AS rn FROM sc)
SELECT qid, CAST(rn AS INT) AS rn, doc_id, score_milli FROM r WHERE rn <= 10 ORDER BY qid, rn""",
    // adaptive bit count (r11 verdict item 1): the d05 layout rule
    // greatest(3, length(bin(n-1)) - 3) over the contiguous plane
    // block 1..bits — Similarity.lshBits replayed in SQL
    "s02_ann_lsh" ->
      """WITH p AS (SELECT greatest(3, length(bin(count(*) - 1)) - 3) AS bits FROM embeddings),
b AS (SELECT e.vec_id, e.embedding,
    list_sum(list_transform(range(p.bits),
      r -> CASE WHEN e.embedding[CAST(r + 1 AS INT)] >= 0
           THEN 1 << r ELSE 0 END)) AS bucket
  FROM embeddings e CROSS JOIN p),
q AS (SELECT vec_id AS query_id, embedding AS qv, bucket FROM b WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
s AS (SELECT q.query_id, e.vec_id, list_cosine_similarity(q.qv, e.embedding) AS cos
  FROM b e JOIN q ON e.bucket = q.bucket AND e.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM s)
SELECT query_id, rn, vec_id AS neighbor_id,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM r WHERE rn <= 3 ORDER BY query_id, rn""",

    // coarse layer = the k-means chain (r11 verdict item 1: K(n)
    // centroids via coarseCtes, replacing the 10 pinned label means)
    "s03_ann_ivf" ->
      ("""WITH """ + coarseCtes + """,
asg AS (SELECT e.vec_id, c.cid,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rr
  FROM e, cent c),
cells AS (SELECT a.vec_id, a.cid, e.embedding
  FROM asg a JOIN e ON e.vec_id = a.vec_id WHERE a.rr = 1),
q AS (SELECT a.vec_id AS query_id, e.embedding AS qv, a.cid
  FROM asg a JOIN e ON e.vec_id = a.vec_id
  WHERE a.vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999) AND a.rr <= 2),
s AS (SELECT q.query_id, c.vec_id,
    list_cosine_similarity(q.qv, c.embedding) AS cos
  FROM cells c JOIN q ON c.cid = q.cid AND c.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM s)
SELECT query_id, rn, vec_id AS neighbor_id,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM r WHERE rn <= 3 ORDER BY query_id, rn"""),
    // s21: s05's codebook + float-argmin encode CTEs, error re-summed
    // in the milli-integer space; codebook LEFT join keeps dead codes
    "s21_pq_distortion" ->
      ("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
""" + pqCodebookCtes + """,
enc AS (SELECT vec_id, j, cid FROM (SELECT psv.vec_id, psv.j, cj.cid,
    row_number() OVER (PARTITION BY psv.vec_id, psv.j
      ORDER BY list_inner_product(scv, scv) - 2*list_inner_product(sv, scv), cid) AS rr
  FROM psv JOIN cj USING (j)) z WHERE rr = 1),
vm AS (SELECT vec_id, j,
    list_transform(sv, x -> CAST(floor(x * 1000) AS BIGINT)) AS mv FROM psv),
cm AS (SELECT j, cid,
    list_transform(scv, x -> CAST(floor(x * 1000) AS BIGINT)) AS mc FROM cj),
er AS (SELECT enc.j, enc.cid,
    CAST(list_sum(list_transform(range(1, len(vm.mv) + 1),
      i -> (vm.mv[i] - cm.mc[i]) * (vm.mv[i] - cm.mc[i]))) AS BIGINT) AS err
  FROM enc JOIN vm ON vm.vec_id = enc.vec_id AND vm.j = enc.j
    JOIN cm ON cm.j = enc.j AND cm.cid = enc.cid),
st AS (SELECT j, cid, CAST(count(*) AS BIGINT) AS n_vecs,
    CAST(sum(err) AS BIGINT) AS sum_err FROM er GROUP BY 1, 2),
tot AS (SELECT j, CAST(sum(n_vecs) AS BIGINT) AS n_j FROM st GROUP BY 1)
SELECT cj.j, cj.cid,
  CAST(coalesce(st.n_vecs, 0) AS BIGINT) AS n_vecs,
  CAST(coalesce(st.n_vecs, 0) * 10000 // tot.n_j AS BIGINT) AS share_bp,
  CAST(coalesce(st.sum_err, 0) // greatest(coalesce(st.n_vecs, 0), 1) AS BIGINT) AS mse_mu,
  coalesce(st.n_vecs, 0) = 0 AS dead
FROM cj LEFT JOIN st ON st.j = cj.j AND st.cid = cj.cid
  JOIN tot ON tot.j = cj.j
ORDER BY cj.j, cj.cid"""),
    // s20: s03's centroid/assignment CTEs with the query side kept to
    // rr <= 3, expanded over nprobe in {1,2,3}, recall vs brute truth
    "s20_nprobe_sweep" ->
      ("""WITH """ + coarseCtes + """,
asg AS (SELECT e.vec_id, c.cid,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rr
  FROM e, cent c),
cells AS (SELECT a.vec_id, a.cid, e.embedding
  FROM asg a JOIN e ON e.vec_id = a.vec_id WHERE a.rr = 1),
q AS (SELECT a.vec_id AS query_id, e.embedding AS qv, a.cid, a.rr AS qrr
  FROM asg a JOIN e ON e.vec_id = a.vec_id
  WHERE a.vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999) AND a.rr <= 3),
sc AS (SELECT q.query_id, q.qrr, c.vec_id,
    list_cosine_similarity(q.qv, c.embedding) AS cos
  FROM cells c JOIN q ON c.cid = q.cid AND c.vec_id <> q.query_id),
np AS (SELECT unnest([1, 2, 3]) AS nprobe),
r AS (SELECT np.nprobe, sc.query_id, sc.vec_id,
    row_number() OVER (PARTITION BY np.nprobe, sc.query_id
      ORDER BY sc.cos DESC, sc.vec_id) AS rn
  FROM sc JOIN np ON sc.qrr <= np.nprobe),
ap AS (SELECT nprobe, query_id, vec_id FROM r WHERE rn <= 3),
tq AS (SELECT vec_id AS query_id, embedding AS qv FROM e
  WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
ts AS (SELECT tq.query_id, e.vec_id,
    list_cosine_similarity(tq.qv, e.embedding) AS cos
  FROM e JOIN tq ON e.vec_id <> tq.query_id),
tr AS (SELECT query_id, vec_id, row_number() OVER (PARTITION BY query_id
    ORDER BY cos DESC, vec_id) AS rn FROM ts),
tt AS (SELECT query_id, vec_id FROM tr WHERE rn <= 3),
j AS (SELECT np.nprobe, t.query_id, a.vec_id AS hit
  FROM np CROSS JOIN tt t LEFT JOIN ap a
    ON a.nprobe = np.nprobe AND a.query_id = t.query_id AND a.vec_id = t.vec_id)
SELECT nprobe, query_id, CAST(count(*) AS INT) AS n_true,
  CAST(count(hit) AS INT) AS n_hits,
  CAST(count(hit) * 10000 // count(*) AS BIGINT) AS recall_bp
FROM j GROUP BY 1, 2 ORDER BY nprobe, query_id"""),
    // s18: replays s03's centroid-build + rr=1 assignment CTEs, then
    // the K-row occupancy report; centroid LEFT join keeps empty cells
    "s18_index_health" ->
      ("""WITH """ + coarseCtes + """,
asg AS (SELECT e.vec_id, c.cid,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rr
  FROM e, cent c),
occ AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_occ FROM asg
  WHERE rr = 1 GROUP BY 1),
h AS (SELECT CAST(cent.cid AS INT) AS cid,
    CAST(coalesce(occ.n_occ, 0) AS BIGINT) AS n_vecs
  FROM cent LEFT JOIN occ USING (cid)),
t AS (SELECT CAST(sum(n_vecs) AS BIGINT) AS n_total,
    CAST(count(*) AS BIGINT) AS n_cells FROM h)
SELECT h.cid, h.n_vecs,
  CAST(h.n_vecs * 10000 // t.n_total AS BIGINT) AS share_bp,
  CAST(h.n_vecs * t.n_cells * 10000 // t.n_total AS BIGINT) AS load_bp,
  h.n_vecs * t.n_cells > 2 * t.n_total AS hot,
  h.n_vecs = 0 AS empty
FROM h, t ORDER BY h.cid"""),
    "s05_ann_pq" ->
      ("""WITH e AS (SELECT vec_id, embedding FROM embeddings),
""" + pqCodebookCtes + """,
enc AS (SELECT vec_id, j, cid, row_number() OVER (PARTITION BY vec_id, j
    ORDER BY list_inner_product(scv, scv) - 2*list_inner_product(sv, scv), cid) AS rr
  FROM psv JOIN cj USING (j)),
codes AS (SELECT vec_id,
    max(CASE WHEN j = 0 THEN cid END) AS code0,
    max(CASE WHEN j = 1 THEN cid END) AS code1,
    max(CASE WHEN j = 2 THEN cid END) AS code2,
    max(CASE WHEN j = 3 THEN cid END) AS code3
  FROM enc WHERE rr = 1 GROUP BY vec_id),
q AS (SELECT vec_id AS query_id,
    CAST(embedding[1:16] AS DOUBLE[]) AS qv0,
    CAST(embedding[17:32] AS DOUBLE[]) AS qv1,
    CAST(embedding[33:48] AS DOUBLE[]) AS qv2,
    CAST(embedding[49:64] AS DOUBLE[]) AS qv3
  FROM e WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
scan AS (SELECT c.vec_id, q.query_id,
    (list_inner_product(q.qv0, q.qv0) + list_inner_product(c0.scv, c0.scv) - 2*list_inner_product(q.qv0, c0.scv))
  + (list_inner_product(q.qv1, q.qv1) + list_inner_product(c1.scv, c1.scv) - 2*list_inner_product(q.qv1, c1.scv))
  + (list_inner_product(q.qv2, q.qv2) + list_inner_product(c2.scv, c2.scv) - 2*list_inner_product(q.qv2, c2.scv))
  + (list_inner_product(q.qv3, q.qv3) + list_inner_product(c3.scv, c3.scv) - 2*list_inner_product(q.qv3, c3.scv)) AS adc
  FROM codes c CROSS JOIN q
    JOIN cj c0 ON c0.j = 0 AND c0.cid = c.code0
    JOIN cj c1 ON c1.j = 1 AND c1.cid = c.code1
    JOIN cj c2 ON c2.j = 2 AND c2.cid = c.code2
    JOIN cj c3 ON c3.j = 3 AND c3.cid = c.code3
  WHERE c.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, adc,
    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
  FROM scan)
SELECT query_id, CAST(rn AS INT) AS rn, vec_id AS neighbor_id,
  CAST(floor(adc * 1000) AS BIGINT) AS adc_milli
FROM r WHERE rn <= 3 ORDER BY query_id, rn"""),
    "s06_ann_ivfpq" ->
      ("""WITH """ + coarseCtes + """,
asg AS (SELECT e.vec_id, c.cid,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rr
  FROM e, cent c),
cells AS (SELECT a.vec_id, a.cid AS cell, e.embedding
  FROM asg a JOIN e ON e.vec_id = a.vec_id WHERE a.rr = 1),
""" + pqCodebookCtes + """,
sv AS (SELECT vec_id, cell, j,
    CAST(embedding[j*16+1 : j*16+16] AS DOUBLE[]) AS sv
  FROM cells, (SELECT unnest([0, 1, 2, 3]) AS j) jj),
enc AS (SELECT vec_id, cell, j, cid, row_number() OVER (PARTITION BY vec_id, j
    ORDER BY list_inner_product(scv, scv) - 2*list_inner_product(sv, scv), cid) AS rr
  FROM sv JOIN cj USING (j)),
codes AS (SELECT vec_id, cell,
    max(CASE WHEN j = 0 THEN cid END) AS code0,
    max(CASE WHEN j = 1 THEN cid END) AS code1,
    max(CASE WHEN j = 2 THEN cid END) AS code2,
    max(CASE WHEN j = 3 THEN cid END) AS code3
  FROM enc WHERE rr = 1 GROUP BY vec_id, cell),
q AS (SELECT a.vec_id AS query_id, a.cid AS cell,
    CAST(e.embedding[1:16] AS DOUBLE[]) AS qv0,
    CAST(e.embedding[17:32] AS DOUBLE[]) AS qv1,
    CAST(e.embedding[33:48] AS DOUBLE[]) AS qv2,
    CAST(e.embedding[49:64] AS DOUBLE[]) AS qv3
  FROM asg a JOIN e ON e.vec_id = a.vec_id
  WHERE a.vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999) AND a.rr <= 2),
scan AS (SELECT c.vec_id, q.query_id,
    (list_inner_product(q.qv0, q.qv0) + list_inner_product(c0.scv, c0.scv) - 2*list_inner_product(q.qv0, c0.scv))
  + (list_inner_product(q.qv1, q.qv1) + list_inner_product(c1.scv, c1.scv) - 2*list_inner_product(q.qv1, c1.scv))
  + (list_inner_product(q.qv2, q.qv2) + list_inner_product(c2.scv, c2.scv) - 2*list_inner_product(q.qv2, c2.scv))
  + (list_inner_product(q.qv3, q.qv3) + list_inner_product(c3.scv, c3.scv) - 2*list_inner_product(q.qv3, c3.scv)) AS adc
  FROM codes c JOIN q ON c.cell = q.cell
    JOIN cj c0 ON c0.j = 0 AND c0.cid = c.code0
    JOIN cj c1 ON c1.j = 1 AND c1.cid = c.code1
    JOIN cj c2 ON c2.j = 2 AND c2.cid = c.code2
    JOIN cj c3 ON c3.j = 3 AND c3.cid = c.code3
  WHERE c.vec_id <> q.query_id),
r AS (SELECT query_id, vec_id, adc,
    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
  FROM scan)
SELECT query_id, CAST(rn AS INT) AS rn, vec_id AS neighbor_id,
  CAST(floor(adc * 1000) AS BIGINT) AS adc_milli
FROM r WHERE rn <= 3 ORDER BY query_id, rn"""),
    "s07_ann_refine" ->
      ("""WITH """ + coarseCtes + """,
asg AS (SELECT e.vec_id, c.cid,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rr
  FROM e, cent c),
cells AS (SELECT a.vec_id, a.cid AS cell, e.embedding
  FROM asg a JOIN e ON e.vec_id = a.vec_id WHERE a.rr = 1),
""" + pqCodebookCtes + """,
sv AS (SELECT vec_id, cell, j,
    CAST(embedding[j*16+1 : j*16+16] AS DOUBLE[]) AS sv
  FROM cells, (SELECT unnest([0, 1, 2, 3]) AS j) jj),
enc AS (SELECT vec_id, cell, j, cid, row_number() OVER (PARTITION BY vec_id, j
    ORDER BY list_inner_product(scv, scv) - 2*list_inner_product(sv, scv), cid) AS rr
  FROM sv JOIN cj USING (j)),
codes AS (SELECT vec_id, cell,
    max(CASE WHEN j = 0 THEN cid END) AS code0,
    max(CASE WHEN j = 1 THEN cid END) AS code1,
    max(CASE WHEN j = 2 THEN cid END) AS code2,
    max(CASE WHEN j = 3 THEN cid END) AS code3
  FROM enc WHERE rr = 1 GROUP BY vec_id, cell),
q AS (SELECT a.vec_id AS query_id, a.cid AS cell,
    CAST(e.embedding[1:16] AS DOUBLE[]) AS qv0,
    CAST(e.embedding[17:32] AS DOUBLE[]) AS qv1,
    CAST(e.embedding[33:48] AS DOUBLE[]) AS qv2,
    CAST(e.embedding[49:64] AS DOUBLE[]) AS qv3
  FROM asg a JOIN e ON e.vec_id = a.vec_id
  WHERE a.vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999) AND a.rr <= 2),
scan AS (SELECT c.vec_id, q.query_id,
    (list_inner_product(q.qv0, q.qv0) + list_inner_product(c0.scv, c0.scv) - 2*list_inner_product(q.qv0, c0.scv))
  + (list_inner_product(q.qv1, q.qv1) + list_inner_product(c1.scv, c1.scv) - 2*list_inner_product(q.qv1, c1.scv))
  + (list_inner_product(q.qv2, q.qv2) + list_inner_product(c2.scv, c2.scv) - 2*list_inner_product(q.qv2, c2.scv))
  + (list_inner_product(q.qv3, q.qv3) + list_inner_product(c3.scv, c3.scv) - 2*list_inner_product(q.qv3, c3.scv)) AS adc
  FROM codes c JOIN q ON c.cell = q.cell
    JOIN cj c0 ON c0.j = 0 AND c0.cid = c.code0
    JOIN cj c1 ON c1.j = 1 AND c1.cid = c.code1
    JOIN cj c2 ON c2.j = 2 AND c2.cid = c.code2
    JOIN cj c3 ON c3.j = 3 AND c3.cid = c.code3
  WHERE c.vec_id <> q.query_id),
cand AS (SELECT query_id, vec_id FROM (
    SELECT query_id, vec_id,
      row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
    FROM scan) WHERE rn <= 10),
x AS (SELECT c.query_id, c.vec_id,
    list_cosine_similarity(eq.embedding, ec.embedding) AS cos
  FROM cand c JOIN e eq ON eq.vec_id = c.query_id
    JOIN e ec ON ec.vec_id = c.vec_id),
f AS (SELECT query_id, vec_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
  FROM x)
SELECT query_id, CAST(rn AS INT) AS rn, vec_id AS neighbor_id,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM f WHERE rn <= 3 ORDER BY query_id, rn"""),
    "s08_ann_sq8" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
dims AS (SELECT vec_id, unnest(embedding) AS v,
    unnest(range(1, len(embedding)+1)) AS idx FROM e),
mnx AS (SELECT idx, min(v) AS mn, max(v) AS mx FROM dims GROUP BY idx),
q8 AS (SELECT d.vec_id, d.idx,
    CASE WHEN m.mx > m.mn
      THEN least(CAST(floor(((CAST(d.v AS DOUBLE) - CAST(m.mn AS DOUBLE))
        / (CAST(m.mx AS DOUBLE) - CAST(m.mn AS DOUBLE))) * 256.0) AS BIGINT), 255)
      ELSE 0 END AS code,
    CAST(m.mn AS DOUBLE) AS mn, CAST(m.mx AS DOUBLE) AS mx
  FROM dims d JOIN mnx m USING (idx)),
dq AS (SELECT vec_id, idx,
    CAST(floor((mn + (code + 0.5) * (mx - mn) / 256.0) * 1000) / 1000.0 AS FLOAT) AS dv
  FROM q8),
dqv AS (SELECT vec_id, CAST(list(CAST(dv AS DOUBLE) ORDER BY idx) AS DOUBLE[]) AS dvec
  FROM dq GROUP BY vec_id),
qv AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qvec FROM e
  WHERE vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
scored AS (SELECT q.query_id, c.vec_id,
    list_inner_product(q.qvec, q.qvec) + list_inner_product(c.dvec, c.dvec)
      - 2 * list_inner_product(q.qvec, c.dvec) AS adc
  FROM qv q, dqv c WHERE c.vec_id <> q.query_id),
rk AS (SELECT query_id, vec_id, adc,
    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn FROM scored)
SELECT query_id, CAST(rn AS INT) AS rn, vec_id AS neighbor_id,
  CAST(floor(adc * 1000) AS BIGINT) AS adc_milli
FROM rk WHERE rn <= 3 ORDER BY query_id, rn""",
    // s24: s08's quantize/dequantize CTEs verbatim, the scan joined
    // through the coarse rr=1 cells on the query's rr<=2 probe cells
    "s24_ann_ivfsq8" ->
      ("""WITH """ + coarseCtes + """,
asg AS (SELECT e.vec_id, c.cid,
    row_number() OVER (PARTITION BY e.vec_id
      ORDER BY list_cosine_similarity(e.embedding, c.cv) DESC, c.cid) AS rr
  FROM e, cent c),
cl AS (SELECT vec_id, cid AS cell FROM asg WHERE rr = 1),
dims AS (SELECT vec_id, unnest(embedding) AS v,
    unnest(range(1, len(embedding)+1)) AS idx FROM e),
mnx AS (SELECT idx, min(v) AS mn, max(v) AS mx FROM dims GROUP BY idx),
q8 AS (SELECT d.vec_id, d.idx,
    CASE WHEN m.mx > m.mn
      THEN least(CAST(floor(((CAST(d.v AS DOUBLE) - CAST(m.mn AS DOUBLE))
        / (CAST(m.mx AS DOUBLE) - CAST(m.mn AS DOUBLE))) * 256.0) AS BIGINT), 255)
      ELSE 0 END AS code,
    CAST(m.mn AS DOUBLE) AS mn, CAST(m.mx AS DOUBLE) AS mx
  FROM dims d JOIN mnx m USING (idx)),
dq AS (SELECT vec_id, idx,
    CAST(floor((mn + (code + 0.5) * (mx - mn) / 256.0) * 1000) / 1000.0 AS FLOAT) AS dv
  FROM q8),
dqv AS (SELECT vec_id, CAST(list(CAST(dv AS DOUBLE) ORDER BY idx) AS DOUBLE[]) AS dvec
  FROM dq GROUP BY vec_id),
qv AS (SELECT a.vec_id AS query_id, CAST(e.embedding AS DOUBLE[]) AS qvec, a.cid AS cell
  FROM asg a JOIN e ON e.vec_id = a.vec_id
  WHERE a.vec_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999) AND a.rr <= 2),
scored AS (SELECT q.query_id, c.vec_id,
    list_inner_product(q.qvec, q.qvec) + list_inner_product(c.dvec, c.dvec)
      - 2 * list_inner_product(q.qvec, c.dvec) AS adc
  FROM qv q JOIN cl ON cl.cell = q.cell JOIN dqv c ON c.vec_id = cl.vec_id
  WHERE c.vec_id <> q.query_id),
rk AS (SELECT query_id, vec_id, adc,
    row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn FROM scored)
SELECT query_id, CAST(rn AS INT) AS rn, vec_id AS neighbor_id,
  CAST(floor(adc * 1000) AS BIGINT) AS adc_milli
FROM rk WHERE rn <= 3 ORDER BY query_id, rn"""),
    "s04_hybrid_search" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS shingle FROM toks WHERE len(t) >= 3),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
rare AS (SELECT shingle FROM sh GROUP BY shingle HAVING count(*) <= 1000),
shr AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN rare USING (shingle)),
q AS (SELECT doc_id AS query_id, shingle FROM shr
  WHERE doc_id IN (0, 100, 200, 300, 400, 799, 1203, 1607, 1999)),
cand AS (SELECT DISTINCT q.query_id, shr.doc_id FROM shr JOIN q USING (shingle)
  WHERE shr.doc_id <> q.query_id),
e AS (SELECT vec_id, embedding FROM embeddings),
sc AS (SELECT c.query_id, c.doc_id,
    list_cosine_similarity(eq.embedding, ec.embedding) AS cos
  FROM cand c JOIN e eq ON eq.vec_id = c.query_id JOIN e ec ON ec.vec_id = c.doc_id),
r AS (SELECT query_id, doc_id, cos,
    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS rn
  FROM sc)
SELECT query_id, CAST(rn AS INT) AS rn, doc_id AS neighbor_id,
  CAST(floor(cos * 10000) AS BIGINT) AS cos_bp
FROM r WHERE rn <= 3 ORDER BY query_id, rn""",
    "t10_sequence_pack" ->
      """WITH d AS (SELECT doc_id, lang, doc_id % 8 AS shard_id,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents),
c AS (SELECT doc_id, lang, shard_id, n_tokens,
    sum(n_tokens) OVER (PARTITION BY lang, shard_id ORDER BY doc_id
      ROWS UNBOUNDED PRECEDING) - n_tokens AS prev_cum
  FROM d)
SELECT doc_id, lang, CAST(shard_id AS BIGINT) AS shard_id, n_tokens,
  CAST(floor(prev_cum / 512.0) AS BIGINT) AS bin_id,
  CAST(prev_cum % 512 AS BIGINT) AS bin_offset
FROM c ORDER BY lang, shard_id, doc_id""",
    "r16_scd2" ->
      """WITH base AS (SELECT o_orderkey, CAST(floor(o_totalprice * 100) AS BIGINT) AS cents,
    CAST(o_orderdate AS DATE) AS since FROM orders),
old AS (SELECT o_orderkey AS key, cents AS old_cents, since FROM base),
kept AS (SELECT o_orderkey AS key,
    CASE WHEN o_orderkey % 31 = 0 THEN cents + 1 ELSE cents END AS new_cents
  FROM base WHERE o_orderkey % 97 <> 0),
ins AS (SELECT o_orderkey + 10000000 AS key, cents AS new_cents
  FROM base WHERE o_orderkey % 89 = 0),
nw AS (SELECT * FROM kept UNION ALL SELECT * FROM ins),
j AS (SELECT coalesce(o.key, n.key) AS key, o.old_cents, o.since, n.new_cents
  FROM old o FULL OUTER JOIN nw n ON o.key = n.key)
SELECT key, old_cents AS value_cents, since AS valid_from,
  DATE '2026-08-12' AS valid_to, false AS is_current
FROM j WHERE old_cents IS NOT NULL AND (new_cents IS NULL OR new_cents <> old_cents)
UNION ALL
SELECT key, new_cents, CASE WHEN old_cents IS NULL OR old_cents <> new_cents
    THEN DATE '2026-08-12' ELSE since END,
  CAST(NULL AS DATE), true
FROM j WHERE new_cents IS NOT NULL
ORDER BY key, valid_from""",
    // CAST(ts AS TIMESTAMP) floors DuckDB's TIMESTAMP_NS to micros,
    // matching Tables.events' documented ns→us truncation — without it
    // boundary pairs diverge on any future data with sub-µs components
    "r17_range_join" ->
      """WITH err AS (SELECT event_id AS interval_id, user_id,
    CAST(ts AS TIMESTAMP) AS start_ts,
    CAST(ts AS TIMESTAMP) + INTERVAL 60 MINUTE AS end_ts
  FROM events WHERE event_type = 'error'),
p AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, value
  FROM events WHERE event_type <> 'error')
SELECT err.interval_id, err.user_id, count(*) AS n_follow,
  CAST(sum(floor(p.value * 100)) AS BIGINT) AS follow_cents
FROM err JOIN p ON p.user_id = err.user_id
  AND p.ts >= err.start_ts AND p.ts < err.end_ts
GROUP BY err.interval_id, err.user_id
ORDER BY interval_id""",
    "r18_profile" -> {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus",
        "o_totalprice", "o_orderdate", "o_orderpriority")
      cols.map(c =>
        s"""SELECT '$c' AS column_name, count(*) AS n_rows,
  count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
  count(DISTINCT $c) AS n_distinct FROM orders""")
        .mkString("SELECT * FROM (\n", "\nUNION ALL\n",
          "\n) ORDER BY column_name")
    },
    "r21_cdc_apply" ->
      """WITH log AS (
  SELECT o_orderkey, CAST(1 AS BIGINT) AS seq, 'I' AS op, o_totalprice AS val FROM orders
  UNION ALL
  SELECT o_orderkey, 2, 'U', floor(o_totalprice * 1.1 * 100) / 100
  FROM orders WHERE o_orderkey % 3 = 0
  UNION ALL
  SELECT o_orderkey, 3, 'D', NULL FROM orders WHERE o_orderkey % 7 = 0),
last AS (SELECT o_orderkey, seq, op, val,
    row_number() OVER (PARTITION BY o_orderkey ORDER BY seq DESC) AS rn FROM log),
cnt AS (SELECT o_orderkey, count(*) AS n_ops FROM log GROUP BY 1)
SELECT l.o_orderkey, c.n_ops, l.seq AS last_seq,
  CASE WHEN l.op = 'D' THEN 'deleted' ELSE 'live' END AS status,
  CASE WHEN l.op = 'D' THEN NULL ELSE floor(l.val * 100) / 100 END AS final_total
FROM last l JOIN cnt c USING (o_orderkey)
WHERE l.rn = 1 ORDER BY o_orderkey""",
    // chained-min formulation — proves the one-shuffle ordered walk
    // computes the same greedy funnel
    "r22_funnel" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1 GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2 GROUP BY 1),
u AS (SELECT DISTINCT user_id FROM e)
SELECT u.user_id, s1.t1 AS first_view, s2.t2 AS first_click, s3.t3 AS first_purchase,
  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2
            WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
  LEFT JOIN s3 USING (user_id)
ORDER BY u.user_id""",
    // r26: r22's greedy chained mins with a 1-hour per-step
    // conversion window; epoch-second integer bounds on both engines
    "r26_funnel_windowed" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
  WHERE event_type IN ('view', 'click', 'purchase')),
s1 AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY 1),
s2 AS (SELECT e.user_id, min(e.ts) AS t2 FROM e JOIN s1 USING (user_id)
  WHERE e.event_type = 'click' AND e.ts > s1.t1
    AND epoch(e.ts) <= epoch(s1.t1) + 3600 GROUP BY 1),
s3 AS (SELECT e.user_id, min(e.ts) AS t3 FROM e JOIN s2 USING (user_id)
  WHERE e.event_type = 'purchase' AND e.ts > s2.t2
    AND epoch(e.ts) <= epoch(s2.t2) + 3600 GROUP BY 1),
u AS (SELECT DISTINCT user_id FROM e)
SELECT u.user_id, s1.t1 AS first_view, s2.t2 AS first_click, s3.t3 AS first_purchase,
  CAST(CASE WHEN s3.t3 IS NOT NULL THEN 3 WHEN s2.t2 IS NOT NULL THEN 2
            WHEN s1.t1 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
FROM u LEFT JOIN s1 USING (user_id) LEFT JOIN s2 USING (user_id)
  LEFT JOIN s3 USING (user_id)
ORDER BY u.user_id""",
    "r23_retention" ->
      """WITH e AS (SELECT user_id,
    CAST(date_trunc('week', CAST(ts AS TIMESTAMP)) AS DATE) AS wk FROM events),
f AS (SELECT user_id, min(wk) AS cohort_week FROM e GROUP BY 1),
a AS (SELECT DISTINCT f.cohort_week, e.user_id,
    CAST(date_diff('day', f.cohort_week, e.wk) // 7 AS INT) AS week_offset
  FROM e JOIN f USING (user_id))
SELECT cohort_week, week_offset, count(*) AS n_active
FROM a GROUP BY 1, 2 ORDER BY 1, 2""",
    // r27: per-event floor-cents BEFORE the sum (integer fill values,
    // order-independent); hour_id = floor(epoch/3600) both engines
    "r27_gapfill" ->
      """WITH e AS (SELECT user_id,
    CAST(floor(epoch(ts) / 3600) AS BIGINT) AS hour_id,
    CAST(floor(value * 100) AS BIGINT) AS cents FROM events),
h AS (SELECT user_id, hour_id, CAST(count(*) AS BIGINT) AS n_events,
    CAST(sum(cents) AS BIGINT) AS hour_cents FROM e GROUP BY 1, 2),
sp AS (SELECT user_id, min(hour_id) AS h0, max(hour_id) AS h1 FROM h GROUP BY 1),
g AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hour_id FROM sp),
f AS (SELECT g.user_id, g.hour_id, coalesce(h.n_events, 0) AS n_events, h.hour_cents
  FROM g LEFT JOIN h USING (user_id, hour_id))
SELECT user_id, hour_id, CAST(n_events AS BIGINT) AS n_events,
  CAST(last_value(hour_cents IGNORE NULLS) OVER (PARTITION BY user_id
    ORDER BY hour_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS filled_cents
FROM f ORDER BY user_id, hour_id""",
    // r28: $100 spend bands (capacity-bounded histogram), banded
    // decile rule floor(10*c_lt/n) — never a global ntile
    "r28_spend_deciles" ->
      """WITH sp AS (SELECT o_custkey,
    CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
  FROM orders GROUP BY 1),
sb AS (SELECT o_custkey, cents, cents // 10000 AS band FROM sp),
h AS (SELECT band, CAST(count(*) AS BIGINT) AS cnt FROM sb GROUP BY 1),
d AS (SELECT band,
    coalesce(sum(cnt) OVER (ORDER BY band
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS c_lt,
    sum(cnt) OVER () AS n_cust
  FROM h),
d2 AS (SELECT band, CAST(10 * c_lt // n_cust AS INT) AS decile FROM d)
SELECT d2.decile,
  CAST(count(*) AS BIGINT) AS n_customers,
  CAST(sum(sb.cents) AS BIGINT) AS total_cents,
  CAST(min(sb.band) AS BIGINT) AS min_band,
  CAST(max(sb.band) AS BIGINT) AS max_band
FROM sb JOIN d2 USING (band) GROUP BY 1 ORDER BY decile""",
    // r29: consecutive-pair lead() over (ts, event_id) — the same
    // deterministic tie-break both engines replay
    "r29_transition_matrix" ->
      """WITH e AS (SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type,
    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
  FROM events),
m AS (SELECT event_type AS from_type, to_type, CAST(count(*) AS BIGINT) AS n
  FROM e WHERE to_type IS NOT NULL GROUP BY 1, 2)
SELECT from_type, to_type, n,
  CAST(n * 10000 // sum(n) OVER (PARTITION BY from_type) AS BIGINT) AS prob_bp
FROM m ORDER BY from_type, to_type""",
    // r30: r08's session CTEs, then hour-span explode + overlap count
    "r30_concurrency" ->
      """WITH x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM events),
y AS (SELECT *, CASE WHEN prev_ts IS NULL OR date_diff('second', prev_ts, ts) > 1800 THEN 1 ELSE 0 END AS new_sess FROM x),
z AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM y),
sess AS (SELECT user_id,
    CAST(floor(epoch(min(ts)) / 3600) AS BIGINT) AS h0,
    CAST(floor(epoch(max(ts)) / 3600) AS BIGINT) AS h1
  FROM z GROUP BY user_id, session_id),
hrs AS (SELECT user_id, unnest(generate_series(h0, h1)) AS hour_id FROM sess)
SELECT hour_id, CAST(count(*) AS BIGINT) AS n_sessions,
  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM hrs GROUP BY 1 ORDER BY hour_id""",
    // r31: floor-cents per line BEFORE the sum; LEFT join keeps
    // line-less orders as the no_lines class
    "r31_reconciliation" ->
      """WITH li AS (SELECT l_orderkey,
    CAST(sum(CAST(floor(l_extendedprice * (1 - l_discount) * (1 + l_tax) * 100) AS BIGINT)) AS BIGINT) AS computed_cents
  FROM lineitem GROUP BY 1),
j AS (SELECT CAST(floor(o.o_totalprice * 100) AS BIGINT) AS stored_cents,
    li.computed_cents,
    CAST(floor(o.o_totalprice * 100) AS BIGINT) - coalesce(li.computed_cents, 0) AS delta_cents
  FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey),
c AS (SELECT CASE WHEN computed_cents IS NULL THEN 'no_lines'
      WHEN delta_cents = 0 THEN 'match'
      WHEN abs(delta_cents) <= 100 THEN 'rounding'
      ELSE 'mismatch' END AS status,
    abs(delta_cents) AS ad FROM j)
SELECT status, CAST(count(*) AS BIGINT) AS n_orders,
  CAST(sum(ad) AS BIGINT) AS abs_delta_cents,
  CAST(max(ad) AS BIGINT) AS max_abs_delta
FROM c GROUP BY 1 ORDER BY status""",
    "r25_pagerank" ->
      """WITH pairs AS (SELECT DISTINCT o.o_custkey * 2 AS c, l.l_suppkey * 2 + 1 AS p
  FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
edges AS (SELECT c AS src, p AS dst FROM pairs UNION ALL SELECT p AS src, c AS dst FROM pairs),
deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
r1 AS (SELECT e.dst AS src, 150 + (850 * sum(1000 // d.deg)) // 1000 AS r
  FROM edges e JOIN deg d USING (src) GROUP BY e.dst),
r2 AS (SELECT e.dst AS node,
    CAST(150 + (850 * sum(r1.r // d.deg)) // 1000 AS BIGINT) AS rank_milli
  FROM edges e JOIN deg d USING (src) JOIN r1 ON r1.src = e.src GROUP BY e.dst)
SELECT CAST((r2.node - 1) // 2 AS BIGINT) AS s_suppkey,
  CAST(deg.deg AS BIGINT) AS n_customers, r2.rank_milli
FROM r2 JOIN deg ON deg.src = r2.node
WHERE r2.node % 2 = 1 ORDER BY rank_milli DESC, s_suppkey""",
    // the oracle is the DIRECT aggregate over the whole table — the
    // compare PROVES the state ⊎ delta merge law
    "r19_incremental_agg" ->
      """WITH o AS (SELECT o_orderstatus,
    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
SELECT o_orderstatus, CAST(sum(cents) AS BIGINT) AS total_cents,
  count(*) AS n_orders, min(cents) AS min_cents, max(cents) AS max_cents
FROM o GROUP BY o_orderstatus ORDER BY o_orderstatus""",
    "m06_modality_interleave" ->
      """WITH d AS (SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens
  FROM documents),
v AS (SELECT vec_id,
    CAST(floor(list_inner_product(CAST(embedding AS DOUBLE[]),
      CAST(embedding AS DOUBLE[])) * 1000) AS BIGINT) AS norm2_milli
  FROM embeddings),
r AS (SELECT d.doc_id, d.kind, d.n_tokens, v.norm2_milli,
    row_number() OVER (PARTITION BY d.kind ORDER BY d.doc_id) AS mr
  FROM d JOIN v ON d.doc_id = v.vec_id)
SELECT doc_id, kind, n_tokens, norm2_milli,
  CAST((mr - 1) // 8 AS BIGINT) AS batch_id,
  CAST((mr - 1) % 8 AS INT) AS slot
FROM r ORDER BY kind, batch_id, slot""",
    // replays StripeStubDecoder's integer stripe means over the hex
    // encoding, then the 16-bit sign-fingerprint + half-band join —
    // floor divisions only, so fingerprints are bit-identical
    "m07_blob_dedup" ->
      """WITH d AS (SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
    hex(encode(text)) AS h
  FROM documents),
st AS (SELECT doc_id, kind, unnest(range(0, 16)) AS stripe_no, h
  FROM d WHERE byte_len >= 256),
f AS (SELECT doc_id, kind, stripe_no,
    substr(h, CAST(stripe_no * 32 AS INT) + 1, 32) AS sx
  FROM st),
m AS (SELECT doc_id, kind, stripe_no,
  CAST(list_sum(list_transform(range(0, length(sx) // 2),
    i -> CAST(concat('0x', substr(sx, CAST(i * 2 AS INT) + 1, 2)) AS BIGINT)))
    * 1000 // (length(sx) // 2) AS BIGINT) AS mean_milli
  FROM f),
fpb AS (SELECT doc_id, kind, list(mean_milli ORDER BY stripe_no) AS ms
  FROM m GROUP BY doc_id, kind HAVING count(*) = 16),
fpa AS (SELECT doc_id, kind, ms, list_sum(ms) // 16 AS avg_milli FROM fpb),
fp AS (SELECT doc_id, kind,
  list_sum(list_transform(range(16),
    j -> CASE WHEN ms[CAST(j + 1 AS INT)] > avg_milli THEN 1 << j ELSE 0 END)) AS fp
  FROM fpa),
cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.kind,
    bit_count(xor(a.fp, b.fp)) AS hamming
  FROM fp a JOIN fp b ON a.kind = b.kind AND a.doc_id < b.doc_id
    AND ((a.fp & 255) = (b.fp & 255) OR (a.fp >> 8) = (b.fp >> 8)))
SELECT doc_a, doc_b, kind, CAST(hamming AS INT) AS hamming
FROM cand WHERE hamming <= 3 ORDER BY doc_a, doc_b""",
    "d09_chunk_dedup" ->
      """WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
c AS (SELECT doc_id, unnest(list_transform(range(0, CAST(floor((len(t)-1)/8) AS BIGINT) + 1),
    i -> md5(array_to_string(t[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' ')))) AS chunk_hash
  FROM t),
df AS (SELECT chunk_hash, count(DISTINCT doc_id) AS nd FROM c GROUP BY 1),
p AS (SELECT c.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
    CAST(sum(CASE WHEN df.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks
  FROM c JOIN df USING (chunk_hash) GROUP BY 1)
SELECT doc_id, n_chunks, n_dup_chunks,
  CAST(n_dup_chunks * 10000 // n_chunks AS BIGINT) AS dup_frac_bp,
  (n_dup_chunks * 10000 // n_chunks) >= 6000 AS drop_flag
FROM p ORDER BY doc_id""",
    "d10_incremental_dedup" ->
      """WITH h AS (SELECT doc_id,
    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS content_hash
  FROM documents),
idx AS (SELECT DISTINCT content_hash FROM h WHERE doc_id % 10 <> 0),
delta AS (SELECT * FROM h WHERE doc_id % 10 = 0),
f AS (SELECT content_hash, min(doc_id) AS first_doc_id FROM delta GROUP BY 1)
SELECT d.doc_id, d.content_hash,
  CASE WHEN i.content_hash IS NOT NULL THEN 'dup_of_index'
       WHEN d.doc_id <> f.first_doc_id THEN 'dup_in_batch'
       ELSE 'kept' END AS status
FROM delta d JOIN f USING (content_hash)
  LEFT JOIN idx i ON d.content_hash = i.content_hash
ORDER BY d.doc_id""",
    "d11_incremental_lsh" -> incrementalLshSql,
    // replays VectorAgg.kmeansCentroidsSampled CTE-for-CTE: K =
    // greatest(10, ceil(sqrt(n))) (corrected integer sqrt, exact in
    // both engines), md5-sampled least(n, 16K)-vector training set,
    // vec_id%K seed means (kc0), two assign→mean rounds over the
    // sample, final FULL-corpus assignment to c2 — no RNG,
    // milli-floored means each round
    "d12_semantic_dedup" ->
      ("""WITH """ + kmeansCtes + """,
asg AS (SELECT vec_id, cid FROM (SELECT ev.vec_id, c.ck AS cid,
    row_number() OVER (PARTITION BY ev.vec_id
      ORDER BY list_inner_product(c.cv, c.cv) - 2 * list_inner_product(ev.v, c.cv), c.ck) AS rr
  FROM ev, c2 c) z WHERE rr = 1),
dropped AS (SELECT a.vec_id AS va, min(b.vec_id) AS dup_of
  FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id > b.vec_id
  JOIN e ea ON ea.vec_id = a.vec_id
  JOIN e eb ON eb.vec_id = b.vec_id
  WHERE floor(list_cosine_similarity(ea.embedding, eb.embedding) * 10000) >= 4000
  GROUP BY 1)
SELECT s.vec_id, s.cid AS cell,
  CASE WHEN d.dup_of IS NOT NULL THEN 'dropped' ELSE 'keeper' END AS status,
  d.dup_of
FROM asg s LEFT JOIN dropped d ON d.va = s.vec_id
ORDER BY vec_id"""),
    "c02_cluster_sample" ->
      ("""WITH """ + kmeansCtes + """,
asg AS (SELECT vec_id, cid, d2 FROM (SELECT ev.vec_id, c.ck AS cid,
    list_inner_product(c.cv, c.cv) - 2 * list_inner_product(ev.v, c.cv) AS d2,
    row_number() OVER (PARTITION BY ev.vec_id
      ORDER BY list_inner_product(c.cv, c.cv) - 2 * list_inner_product(ev.v, c.cv), c.ck) AS rr
  FROM ev, c2 c) z WHERE rr = 1),
cap AS (SELECT greatest(5, (SELECT count(*) FROM e) // ((SELECT k FROM kk) * 10)) AS cap),
r AS (SELECT cid AS cell, vec_id, d2,
    row_number() OVER (PARTITION BY cid ORDER BY d2, vec_id) AS rn FROM asg)
SELECT cell, CAST(rn AS INT) AS rn, vec_id,
  CAST(floor(d2 * 1000) AS BIGINT) AS d2_milli
FROM r, cap WHERE rn <= cap.cap ORDER BY cell, rn"""),
    // c04: d12's k-means rounds replayed, then TRUE squared distance
    // |v−c|² in milli-floored integers; mean = integer DIV; outlier
    // rule pure integer (10·d2 > 25·mean on cells ≥ 5)
    "c04_outlier_scrub" ->
      ("""WITH """ + kmeansCtes + """,
asg AS (SELECT vec_id, ck AS cid, v, cv FROM (SELECT ev.vec_id, c.ck, ev.v, c.cv,
    row_number() OVER (PARTITION BY ev.vec_id
      ORDER BY list_inner_product(c.cv, c.cv) - 2 * list_inner_product(ev.v, c.cv), c.ck) AS rr
  FROM ev, c2 c) z WHERE rr = 1),
d AS (SELECT vec_id, cid,
    CAST(floor((list_inner_product(v, v) + list_inner_product(cv, cv)
      - 2 * list_inner_product(v, cv)) * 1000) AS BIGINT) AS d2_milli
  FROM asg),
st AS (SELECT cid, CAST(count(*) AS BIGINT) AS n_cell,
    CAST(sum(d2_milli) AS BIGINT) AS sum_d2m FROM d GROUP BY 1)
SELECT d.vec_id, d.cid AS cell, d.d2_milli, st.n_cell,
  CAST(st.sum_d2m // st.n_cell AS BIGINT) AS cell_mean_milli,
  (st.n_cell >= 5 AND d.d2_milli * 10 > (st.sum_d2m // st.n_cell) * 25) AS outlier
FROM d JOIN st USING (cid) ORDER BY d.vec_id"""),
    "c03_corpus_card" ->
      """WITH b AS (SELECT source, lang, n_chars,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tokens,
    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS h
  FROM documents),
hs AS (SELECT h, count(*) AS nc FROM b GROUP BY 1),
r AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
    CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
    CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
    CAST(sum(n_chars) AS BIGINT) AS n_chars,
    CAST(sum(CASE WHEN nc > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_docs
  FROM b JOIN hs USING (h) GROUP BY ROLLUP (source))
SELECT coalesce(source, 'ALL') AS source, n_docs, n_langs, n_tokens,
  n_chars, n_dup_docs,
  CAST(n_dup_docs * 10000 // n_docs AS BIGINT) AS dup_bp,
  CAST(n_chars // n_docs AS BIGINT) AS mean_chars
FROM r WHERE n_docs > 0 ORDER BY source""",
    "c05_dq_suite" ->
      """WITH m AS (SELECT CAST(count(*) AS BIGINT) AS n,
    CAST(count(o_custkey) AS BIGINT) AS n_custkey,
    CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_key,
    CAST(sum(CASE WHEN o_orderstatus IN ('O', 'F', 'P') THEN 1 ELSE 0 END) AS BIGINT) AS n_status_ok,
    CAST(sum(CASE WHEN o_totalprice >= 0 AND o_totalprice < 10000000 THEN 1 ELSE 0 END) AS BIGINT) AS n_price_ok
  FROM orders),
orph AS (SELECT CAST(count(*) AS BIGINT) AS n_orphan FROM orders o
  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)),
x AS (SELECT * FROM m CROSS JOIN orph)
SELECT check_name, CAST(metric_bp AS BIGINT) AS metric_bp, passed FROM (
  SELECT 'row_count' AS check_name, n AS metric_bp, n > 0 AS passed FROM x
  UNION ALL SELECT 'completeness_custkey', n_custkey * 10000 // greatest(n, 1), n_custkey = n FROM x
  UNION ALL SELECT 'uniqueness_orderkey', n_key * 10000 // greatest(n, 1), n_key = n FROM x
  UNION ALL SELECT 'accepted_status', n_status_ok * 10000 // greatest(n, 1), n_status_ok = n FROM x
  UNION ALL SELECT 'price_in_range', n_price_ok * 10000 // greatest(n, 1), n_price_ok = n FROM x
  UNION ALL SELECT 'ref_integrity_customer', (n - n_orphan) * 10000 // greatest(n, 1), n_orphan = 0 FROM x)
ORDER BY check_name""",
    // c06: t29's tercile chain verbatim (shared CTEs) + t23's hashed
    // classifier + t14's capped weight + the salted hash-Bernoulli
    "c06_mix_plan" ->
      s"""WITH $tercileCtes,
q AS (SELECT doc_id,
    CAST(coalesce(list_sum(list_transform(t,
      w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 10000 % 17 - 8)), 0) AS BIGINT) > 0 AS quality_ok
  FROM tk),
lc AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
lt AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM lc),
wt AS (SELECT lang,
    least(CAST((CASE WHEN lang = 'en' THEN 4000 ELSE 1500 END) * total_docs // n_docs AS BIGINT), 10000) AS keep_bp
  FROM lc, lt),
mx AS (SELECT d.doc_id, d.lang, b2.tercile, q.quality_ok, wt.keep_bp,
    CAST('0x' || substr(md5('c06' || CAST(d.doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bucket
  FROM documents d JOIN ds USING (doc_id) JOIN b2 USING (mean_centibits)
    JOIN q USING (doc_id) JOIN wt USING (lang)),
dec AS (SELECT *,
    CASE WHEN NOT quality_ok THEN 'drop_quality'
         WHEN tercile = 2 THEN 'drop_tail'
         WHEN bucket < keep_bp THEN 'keep'
         ELSE 'drop_sampled' END AS decision
  FROM mx)
SELECT doc_id, lang, tercile, quality_ok, keep_bp, bucket, decision,
  decision = 'keep' AS kept
FROM dec ORDER BY doc_id""",
    // c07: composes t23 (quality), d01 (canon among survivors), t12
    // (contamination), t29 (tercile) flags, then one conditional
    // aggregate + a 5-row VALUES join replays the Spark stack
    "c07_cascade_report" ->
      raw"""WITH $tercileCtes,
terc AS (SELECT ds.doc_id, b2.tercile FROM ds JOIN b2 USING (mean_centibits)),
q AS (SELECT doc_id,
    coalesce(list_sum(list_transform(t,
      w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 10000 % 17 - 8)), 0) > 0 AS label
  FROM tk),
sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7], ' '))) AS shingle
  FROM tk WHERE len(t) >= 8),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
hits AS (SELECT doc_id FROM sh JOIN bench USING (shingle)
  WHERE doc_id % 50 <> 0 GROUP BY 1),
f AS (SELECT d.doc_id,
    md5(lower(regexp_replace(trim(d.text), '\s+', ' ', 'g'))) AS h,
    q.label, hits.doc_id IS NOT NULL AS contaminated, terc.tercile
  FROM documents d JOIN q USING (doc_id) JOIN terc USING (doc_id)
    LEFT JOIN hits USING (doc_id)
  WHERE d.doc_id % 50 <> 0),
canon AS (SELECT h, min(doc_id) AS canon FROM f WHERE label GROUP BY 1),
a AS (SELECT
    CAST(count(*) AS BIGINT) AS n0,
    CAST(sum(CASE WHEN label THEN 1 ELSE 0 END) AS BIGINT) AS n1,
    CAST(sum(CASE WHEN label AND doc_id = canon THEN 1 ELSE 0 END) AS BIGINT) AS n2,
    CAST(sum(CASE WHEN label AND doc_id = canon AND NOT contaminated THEN 1 ELSE 0 END) AS BIGINT) AS n3,
    CAST(sum(CASE WHEN label AND doc_id = canon AND NOT contaminated AND tercile <> 2 THEN 1 ELSE 0 END) AS BIGINT) AS n4
  FROM f LEFT JOIN canon USING (h)),
st AS (SELECT * FROM (VALUES (0, 'ingest'), (1, 'quality_gate'),
    (2, 'exact_dedup'), (3, 'decontaminate'), (4, 'tail_cull')) s(ord, stage)),
r AS (SELECT CAST(st.ord AS INT) AS ord, st.stage,
    CASE st.ord WHEN 0 THEN a.n0 WHEN 1 THEN a.n0 WHEN 2 THEN a.n1
      WHEN 3 THEN a.n2 ELSE a.n3 END AS n_in,
    CASE st.ord WHEN 0 THEN a.n0 WHEN 1 THEN a.n1 WHEN 2 THEN a.n2
      WHEN 3 THEN a.n3 ELSE a.n4 END AS n_kept
  FROM st, a)
SELECT ord, stage, CAST(n_in AS BIGINT) AS n_in,
  CAST(n_kept AS BIGINT) AS n_kept,
  CAST(n_in - n_kept AS BIGINT) AS n_dropped,
  CAST((n_in - n_kept) * 10000 // greatest(n_in, 1) AS BIGINT) AS drop_bp
FROM r ORDER BY ord""",
    "d13_multiblock_simhash" -> multiblockSimhashSql,
    "t12_decontaminate" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
sh0 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-6), i -> array_to_string(t[i:i+7], ' '))) AS shingle
  FROM toks WHERE len(t) >= 8),
sh AS (SELECT DISTINCT doc_id, shingle FROM sh0),
bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 50 = 0),
hits AS (SELECT doc_id, count(DISTINCT shingle) AS n_shared
  FROM sh JOIN bench USING (shingle) WHERE doc_id % 50 <> 0 GROUP BY 1)
SELECT d.doc_id, CAST(coalesce(h.n_shared, 0) AS BIGINT) AS n_shared,
  coalesce(h.n_shared, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id
WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""",
    "t13_repetition_stats" ->
      """WITH toks AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
g2 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)), i -> array_to_string(t[i:i+1], ' '))) AS gram
  FROM toks WHERE len(t) >= 2),
c2 AS (SELECT doc_id, gram, count(*) AS cnt FROM g2 GROUP BY 1, 2),
s2 AS (SELECT doc_id, CAST(max(cnt) * 10000 // sum(cnt) AS BIGINT) AS top_bigram_bp
  FROM c2 GROUP BY 1),
g3 AS (SELECT doc_id, unnest(list_transform(range(1, len(t)-1), i -> array_to_string(t[i:i+2], ' '))) AS gram
  FROM toks WHERE len(t) >= 3),
c3 AS (SELECT doc_id, gram, count(*) AS cnt FROM g3 GROUP BY 1, 2),
s3 AS (SELECT doc_id,
    CAST(sum(CASE WHEN cnt >= 2 THEN cnt ELSE 0 END) * 10000 // sum(cnt) AS BIGINT) AS dup_trigram_bp
  FROM c3 GROUP BY 1)
SELECT d.doc_id,
  CAST(coalesce(s2.top_bigram_bp, 0) AS BIGINT) AS top_bigram_bp,
  CAST(coalesce(s3.dup_trigram_bp, 0) AS BIGINT) AS dup_trigram_bp,
  (coalesce(s2.top_bigram_bp, 0) >= 2000 OR coalesce(s3.dup_trigram_bp, 0) >= 1800) AS flagged
FROM documents d LEFT JOIN s2 ON d.doc_id = s2.doc_id
  LEFT JOIN s3 ON d.doc_id = s3.doc_id
ORDER BY d.doc_id""",
    "t14_domain_mix" ->
      """WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents GROUP BY 1),
t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS total_docs FROM c)
SELECT lang, n_docs,
  CAST(CASE WHEN lang = 'en' THEN 4000 ELSE 1500 END AS BIGINT) AS target_bp,
  CAST((CASE WHEN lang = 'en' THEN 4000 ELSE 1500 END) * total_docs // n_docs AS BIGINT) AS weight_bp
FROM c, t ORDER BY lang""",
    "t11_stratified_sample" ->
      """WITH d AS (SELECT doc_id, lang,
    CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 100 AS bucket,
    CASE WHEN lang = 'en' THEN 50 WHEN lang = 'de' THEN 25
         WHEN lang = 'es' THEN 25 ELSE 10 END AS keep_pct
  FROM documents)
SELECT doc_id, lang, bucket, CAST(keep_pct AS INT) AS keep_pct
FROM d WHERE bucket < keep_pct ORDER BY doc_id""",
    "t15_mix_resample" ->
      """WITH c AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang),
m AS (SELECT min(n_docs) AS n_min FROM c),
r AS (SELECT lang,
    CAST(floor(10000 * sqrt(CAST(n_min AS DOUBLE) / n_docs)) AS BIGINT) AS keep_bp
  FROM c, m),
d AS (SELECT doc_id, lang,
    CAST('0x' || substr(md5('mix' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 10000 AS bucket
  FROM documents)
SELECT d.doc_id, d.lang, r.keep_bp
FROM d JOIN r USING (lang)
WHERE d.bucket < r.keep_bp ORDER BY doc_id""",
    "t16_global_shuffle" ->
      """WITH k AS (SELECT doc_id,
    md5('shuf' || CAST(doc_id AS VARCHAR)) AS shuffle_key FROM documents),
s AS (SELECT doc_id, shuffle_key,
    CAST('0x' || substr(shuffle_key, 1, 8) AS BIGINT) % 8 AS shard_id FROM k)
SELECT doc_id, shard_id, CAST(row_number() OVER (
    PARTITION BY shard_id ORDER BY shuffle_key, doc_id) AS INT) AS pos
FROM s ORDER BY shard_id, pos""",
    "t17_contamination_excise" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
tok AS (SELECT doc_id, i AS pos, t[i] AS tok
  FROM tk, LATERAL (SELECT unnest(range(1, len(t)+1)) AS i) WHERE doc_id % 50 <> 0),
g AS (SELECT doc_id, i, array_to_string(t[i:i+3], ' ') AS shingle
  FROM tk, LATERAL (SELECT unnest(range(1, len(t)-2)) AS i) WHERE len(t) >= 4),
bench AS (SELECT DISTINCT shingle FROM g WHERE doc_id % 50 = 0),
hit AS (SELECT g.doc_id, g.i FROM g JOIN bench USING (shingle) WHERE g.doc_id % 50 <> 0),
x AS (SELECT doc_id, i, max(i+3) OVER (PARTITION BY doc_id ORDER BY i
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM hit),
y AS (SELECT doc_id, i, CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END AS brk FROM x),
z AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i
    ROWS UNBOUNDED PRECEDING) AS island FROM y),
spans AS (SELECT doc_id, island, min(i) AS s, max(i+3) AS e FROM z GROUP BY doc_id, island),
cov AS (SELECT DISTINCT doc_id, unnest(range(s, e+1)) AS pos FROM spans),
kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos WHERE cov.pos IS NULL),
rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id),
stats AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
    CAST(sum(e - s + 1) AS BIGINT) AS n_removed FROM spans GROUP BY doc_id)
SELECT d.doc_id, coalesce(st.n_spans, 0) AS n_spans,
  coalesce(st.n_removed, 0) AS n_removed,
  coalesce(r.clean_text, '') AS clean_text
FROM documents d LEFT JOIN stats st USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
WHERE d.doc_id % 50 <> 0 ORDER BY d.doc_id""",
    "t19_selfdedup" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
tok AS (SELECT doc_id, i AS pos, t[i] AS tok
  FROM tk, LATERAL (SELECT unnest(range(1, len(t)+1)) AS i)),
g AS (SELECT doc_id, i, md5(array_to_string(t[i:i+7], ' ')) AS sh
  FROM tk, LATERAL (SELECT unnest(range(1, len(t)-6)) AS i) WHERE len(t) >= 8),
r AS (SELECT doc_id, i,
    row_number() OVER (PARTITION BY sh ORDER BY doc_id, i) AS rn,
    count(*) OVER (PARTITION BY sh) AS cnt FROM g),
hit AS (SELECT doc_id, i FROM r WHERE cnt >= 2 AND rn > 1),
x AS (SELECT doc_id, i, max(i+7) OVER (PARTITION BY doc_id ORDER BY i
    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end FROM hit),
y AS (SELECT doc_id, i, CASE WHEN prev_end IS NULL OR i > prev_end + 1 THEN 1 ELSE 0 END AS brk FROM x),
z AS (SELECT doc_id, i, sum(brk) OVER (PARTITION BY doc_id ORDER BY i
    ROWS UNBOUNDED PRECEDING) AS island FROM y),
spans AS (SELECT doc_id, island, min(i) AS s, max(i+7) AS e FROM z GROUP BY doc_id, island),
cov AS (SELECT DISTINCT doc_id, unnest(range(s, e+1)) AS pos FROM spans),
kept AS (SELECT tok.doc_id, tok.pos, tok.tok FROM tok
  LEFT JOIN cov ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos WHERE cov.pos IS NULL),
rebuilt AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY pos) AS clean_text FROM kept GROUP BY doc_id),
stats AS (SELECT doc_id, CAST(count(*) AS INT) AS n_spans,
    CAST(sum(e - s + 1) AS BIGINT) AS n_removed FROM spans GROUP BY doc_id)
SELECT d.doc_id, coalesce(st.n_spans, 0) AS n_spans,
  coalesce(st.n_removed, 0) AS n_removed,
  coalesce(r.clean_text, '') AS clean_text
FROM documents d LEFT JOIN stats st USING (doc_id) LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id""",
    "t20_benchmark_overlap" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
g AS (SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS sh
  FROM tk, LATERAL (SELECT unnest(range(1, len(t)-6)) AS i) WHERE len(t) >= 8),
bw AS (SELECT DISTINCT doc_id, sh FROM g WHERE doc_id % 50 = 0),
tw AS (SELECT DISTINCT sh FROM g WHERE doc_id % 50 <> 0),
st AS (SELECT bw.doc_id, count(*) AS n_windows, count(tw.sh) AS n_leaked
  FROM bw LEFT JOIN tw ON bw.sh = tw.sh GROUP BY bw.doc_id)
SELECT d.doc_id,
  CAST(coalesce(st.n_windows, 0) AS BIGINT) AS n_windows,
  CAST(coalesce(st.n_leaked, 0) AS BIGINT) AS n_leaked,
  CAST(coalesce(st.n_leaked, 0) * 10000 // greatest(coalesce(st.n_windows, 0), 1) AS BIGINT) AS leak_bp
FROM documents d LEFT JOIN st USING (doc_id)
WHERE d.doc_id % 50 = 0 ORDER BY d.doc_id""",
    "t21_lm_surprisal" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
bg AS (SELECT doc_id, t[i] AS w1, t[i+1] AS w2
  FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) WHERE len(t) >= 2),
dbg AS (SELECT doc_id, w1, w2, count(*) AS k FROM bg GROUP BY 1, 2, 3),
c12 AS (SELECT w1, w2, CAST(sum(k) AS BIGINT) AS c12 FROM dbg GROUP BY 1, 2),
c1 AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM c12 GROUP BY 1),
sc AS (SELECT dbg.doc_id,
    CAST(sum(dbg.k) AS BIGINT) AS n_bigrams,
    CAST(sum(dbg.k * ((length(bin(c1.c1)) - 1) - (length(bin(c12.c12)) - 1))) AS BIGINT) AS surprisal_units
  FROM dbg JOIN c12 USING (w1, w2) JOIN c1 USING (w1) GROUP BY 1)
SELECT d.doc_id,
  coalesce(sc.n_bigrams, 0) AS n_bigrams,
  coalesce(sc.surprisal_units, 0) AS surprisal_units,
  CAST(coalesce(sc.surprisal_units, 0) * 100 // greatest(coalesce(sc.n_bigrams, 0), 1) AS BIGINT) AS mean_centibits
FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""",
    "t22_dsir_weights" ->
      """WITH tk AS (SELECT doc_id, source, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
bg AS (SELECT doc_id, source, t[i] || ' ' || t[i+1] AS bg
  FROM tk, LATERAL (SELECT unnest(range(1, len(t))) AS i) WHERE len(t) >= 2),
db AS (SELECT doc_id, source,
    CAST('0x' || substr(md5(bg), 1, 8) AS BIGINT) % 10000 AS b, count(*) AS k
  FROM bg GROUP BY 1, 2, 3),
bs AS (SELECT b,
    CAST(sum(CASE WHEN source = 'src0' THEN k ELSE 0 END) AS BIGINT) AS ct,
    CAST(sum(CASE WHEN source <> 'src0' THEN k ELSE 0 END) AS BIGINT) AS cr
  FROM db GROUP BY 1),
tot AS (SELECT CAST(sum(ct) AS BIGINT) AS tt, CAST(sum(cr) AS BIGINT) AS tr FROM bs),
sc AS (SELECT db.doc_id,
    CAST(sum(db.k) AS BIGINT) AS n_bigrams,
    CAST(sum(db.k * (((length(bin(bs.ct + 1)) - 1) - (length(bin(tot.tt + 1)) - 1))
                   - ((length(bin(bs.cr + 1)) - 1) - (length(bin(tot.tr + 1)) - 1)))) AS BIGINT) AS weight_units
  FROM db JOIN bs USING (b) CROSS JOIN tot GROUP BY 1)
SELECT d.doc_id,
  coalesce(sc.n_bigrams, 0) AS n_bigrams,
  coalesce(sc.weight_units, 0) AS weight_units,
  coalesce(sc.weight_units, 0) > 0 AS keep
FROM documents d LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""",
    "t23_quality_classifier" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents)
SELECT doc_id,
  CAST(len(t) AS INT) AS n_tokens,
  CAST(coalesce(list_sum(list_transform(t,
    w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 10000 % 17 - 8)), 0) AS BIGINT) AS score,
  CAST(coalesce(list_sum(list_transform(t,
    w -> CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 10000 % 17 - 8)), 0) AS BIGINT) > 0 AS label
FROM tk ORDER BY doc_id""",
    "t24_bpe_train" ->
      raw"""WITH $bpeCtes,
v AS (SELECT sym, CAST(sum(n) AS BIGINT) AS cnt
  FROM (SELECT n, unnest(arr) AS sym FROM r2) GROUP BY 1)
SELECT kind, ord, sym, cnt FROM (
  SELECT 'merge' AS kind, CAST(1 AS INT) AS ord, a || b AS sym, cnt FROM t1
  UNION ALL SELECT 'merge', CAST(2 AS INT), a || b, cnt FROM t2
  UNION ALL SELECT 'vocab', CAST(0 AS INT), sym, cnt FROM v)
ORDER BY kind, ord, sym""",
    "t25_bpe_apply" ->
      raw"""WITH $bpeCtes,
dt AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents),
dd AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS k FROM dt WHERE word <> '' GROUP BY 1, 2),
j AS (SELECT dd.doc_id,
    CAST(sum(dd.k) AS BIGINT) AS n_tokens,
    CAST(sum(dd.k * length(dd.word)) AS BIGINT) AS n_char_syms,
    CAST(sum(dd.k * len(r2.arr)) AS BIGINT) AS n_bpe_syms
  FROM dd JOIN r2 USING (word) GROUP BY 1)
SELECT d.doc_id,
  coalesce(j.n_tokens, 0) AS n_tokens,
  coalesce(j.n_char_syms, 0) AS n_char_syms,
  coalesce(j.n_bpe_syms, 0) AS n_bpe_syms,
  CAST(coalesce(j.n_bpe_syms, 0) * 10000 // greatest(coalesce(j.n_char_syms, 0), 1) AS BIGINT) AS compression_bp
FROM documents d LEFT JOIN j USING (doc_id) ORDER BY d.doc_id""",
    // c10: t29's tercile CTEs verbatim (stage), then t16's salted-
    // hash within-stage shuffle — easy-first, locally shuffled
    "c10_curriculum" ->
      s"""WITH $tercileCtes,
st AS (SELECT ds.doc_id, b2.tercile AS stage,
    md5('curr' || CAST(ds.doc_id AS VARCHAR)) AS shuffle_key
  FROM ds JOIN b2 USING (mean_centibits)),
sh AS (SELECT doc_id, stage, shuffle_key,
    CAST('0x' || substr(shuffle_key, 1, 8) AS BIGINT) % 8 AS shard_id FROM st)
SELECT doc_id, stage, shard_id, CAST(row_number() OVER (
    PARTITION BY stage, shard_id ORDER BY shuffle_key, doc_id) AS INT) AS pos
FROM sh ORDER BY stage, shard_id, pos""",
    // c11: the four LF votes + majority label; integer basis-point
    // thresholds only (never a float ratio)
    "c11_weak_labels" ->
      (s"""WITH t AS (SELECT doc_id, $docTokens AS toks FROM documents),
""" + weakLabelCtes + """
SELECT doc_id, lf_len, lf_stop, lf_rep, lf_kw,
  CAST(lf_len + lf_stop + lf_rep + lf_kw AS INT) AS vote,
  CASE WHEN lf_len + lf_stop + lf_rep + lf_kw > 0 THEN 'keep'
    WHEN lf_len + lf_stop + lf_rep + lf_kw < 0 THEN 'drop'
    ELSE 'abstain' END AS label
FROM v ORDER BY doc_id"""),
    // c12: c11's votes unpivoted; coverage/agree/conflict per LF
    "c12_lf_report" ->
      (s"""WITH t AS (SELECT doc_id, $docTokens AS toks FROM documents),
""" + weakLabelCtes + """,
w AS (SELECT lf_len + lf_stop + lf_rep + lf_kw AS vote,
    lf_len, lf_stop, lf_rep, lf_kw FROM v),
u AS (SELECT 'lf_len' AS lf, lf_len AS lv, vote FROM w
  UNION ALL SELECT 'lf_stop', lf_stop, vote FROM w
  UNION ALL SELECT 'lf_rep', lf_rep, vote FROM w
  UNION ALL SELECT 'lf_kw', lf_kw, vote FROM w)
SELECT lf, CAST(count(*) FILTER (lv <> 0) AS BIGINT) AS n_active,
  CAST(count(*) FILTER (lv <> 0) * 10000 // count(*) AS BIGINT) AS coverage_bp,
  CAST(count(*) FILTER ((lv = 1 AND vote > 0) OR (lv = -1 AND vote < 0))
    * 10000 // count(*) AS BIGINT) AS agree_bp,
  CAST(count(*) FILTER ((lv = 1 AND vote < 0) OR (lv = -1 AND vote > 0))
    * 10000 // count(*) AS BIGINT) AS conflict_bp
FROM u GROUP BY lf ORDER BY lf"""),
    // r32: gaps-and-islands interval coalesce; integer epoch seconds,
    // unique (start_s, event_id) window order on both engines
    "r32_interval_union" ->
      """WITH ev AS (SELECT user_id, event_id,
    CAST(floor(epoch(ts)) AS BIGINT) AS start_s,
    CAST(floor(epoch(ts)) AS BIGINT)
      + greatest(1, CAST(floor(value) AS BIGINT)) AS end_s
  FROM events),
m AS (SELECT user_id, event_id, start_s, end_s,
    max(end_s) OVER (PARTITION BY user_id ORDER BY start_s, event_id
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_prev_end
  FROM ev),
i AS (SELECT user_id, event_id, start_s, end_s,
    CASE WHEN max_prev_end IS NULL OR start_s > max_prev_end
      THEN 1 ELSE 0 END AS is_new
  FROM m),
isl AS (SELECT user_id, start_s, end_s,
    sum(is_new) OVER (PARTITION BY user_id
      ORDER BY start_s, event_id) AS island
  FROM i),
g AS (SELECT user_id, island, count(*) AS n_ev,
    min(start_s) AS i_start, max(end_s) AS i_end
  FROM isl GROUP BY 1, 2)
SELECT user_id, CAST(sum(n_ev) AS BIGINT) AS n_events,
  CAST(count(*) AS BIGINT) AS n_islands,
  CAST(sum(i_end - i_start) AS BIGINT) AS covered_s,
  CAST(max(i_end - i_start) AS BIGINT) AS longest_s
FROM g GROUP BY 1 ORDER BY user_id""",
    // s22: m04's BIGINT milli centroids, s15's milli-int cosine,
    // argmax by (cos DESC, clab), mean via the +10^4-shifted sum
    "s22_ood_scrub" ->
      """WITH e AS (SELECT vec_id, embedding, label FROM embeddings),
cm AS (SELECT label AS clab, idx,
    CAST(floor(avg(CAST(v AS DOUBLE)) * 1000) AS BIGINT) AS cmi
  FROM (SELECT label, unnest(embedding) AS v,
      unnest(range(1, len(embedding)+1)) AS idx FROM e)
  GROUP BY 1, 2),
cent AS (SELECT clab, list(cmi ORDER BY idx) AS mc FROM cm GROUP BY 1),
centn AS (SELECT clab, mc,
    CAST(list_sum(list_transform(mc, x -> x * x)) AS BIGINT) AS cn
  FROM cent),
mq AS (SELECT vec_id, label,
    list_transform(embedding,
      x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS mv
  FROM e),
mqn AS (SELECT vec_id, label, mv,
    CAST(list_sum(list_transform(mv, x -> x * x)) AS BIGINT) AS nq
  FROM mq),
sc AS (SELECT vec_id, label, clab,
    CAST(list_sum(list_transform(range(1, len(mv)+1),
      i -> mv[i] * mc[i])) AS DOUBLE)
      / sqrt(CAST(nq * cn AS DOUBLE)) AS cos
  FROM mqn, centn),
rk AS (SELECT vec_id, label, clab, cos, row_number() OVER (
    PARTITION BY vec_id ORDER BY cos DESC, clab) AS rr FROM sc),
best AS (SELECT vec_id, label, clab AS best_label,
    CAST(floor(cos * 10000) AS BIGINT) AS best_cos_bp
  FROM rk WHERE rr = 1),
mn AS (SELECT CAST(sum(best_cos_bp + 10000) // count(*) AS BIGINT)
    - 10000 AS mean_bp FROM best)
SELECT vec_id, label, best_label, best_cos_bp,
  best_cos_bp * 10 < mean_bp * 8 AS is_ood,
  best_label = label AS agrees
FROM best, mn ORDER BY vec_id""",
    // t35: the hashing-trick embedder — md5-derived (dim, sign) per
    // token, signed sum per (doc, dim); sparse long form
    "t35_hashed_embedding" ->
      """WITH tk AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents),
h AS (SELECT doc_id, CAST('0x' || substr(md5(word), 1, 8) AS BIGINT) AS h
  FROM tk WHERE word <> ''),
p AS (SELECT doc_id, CAST(h % 64 AS INT) AS dim,
    CASE WHEN (h // 64) % 2 = 0 THEN 1 ELSE -1 END AS sgn FROM h)
SELECT doc_id, dim, CAST(sum(sgn) AS BIGINT) AS weight
FROM p GROUP BY 1, 2 ORDER BY doc_id, dim""",
    // t34: t25's per-doc CTEs verbatim, re-aggregated per (lang,
    // source) — the per-domain tokenizer fit report
    "t34_tokenizer_fertility" ->
      raw"""WITH $bpeCtes,
dt AS (SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS word FROM documents),
dd AS (SELECT doc_id, word, CAST(count(*) AS BIGINT) AS k FROM dt WHERE word <> '' GROUP BY 1, 2),
j AS (SELECT dd.doc_id,
    CAST(sum(dd.k) AS BIGINT) AS n_tokens,
    CAST(sum(dd.k * length(dd.word)) AS BIGINT) AS n_char_syms,
    CAST(sum(dd.k * len(r2.arr)) AS BIGINT) AS n_bpe_syms
  FROM dd JOIN r2 USING (word) GROUP BY 1),
a AS (SELECT d.lang, d.source,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(sum(coalesce(j.n_tokens, 0)) AS BIGINT) AS n_tokens,
    CAST(sum(coalesce(j.n_char_syms, 0)) AS BIGINT) AS n_char_syms,
    CAST(sum(coalesce(j.n_bpe_syms, 0)) AS BIGINT) AS n_bpe_syms
  FROM documents d LEFT JOIN j USING (doc_id) GROUP BY 1, 2)
SELECT lang, source, n_docs, n_tokens, n_char_syms, n_bpe_syms,
  CAST(n_bpe_syms * 10000 // greatest(n_tokens, 1) AS BIGINT) AS fertility_bp,
  CAST(n_bpe_syms * 10000 // greatest(n_char_syms, 1) AS BIGINT) AS compression_bp
FROM a ORDER BY lang, source""",
    "t26_chunk_split" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
c AS (SELECT doc_id, s AS start_pos, t
  FROM tk, LATERAL (SELECT unnest(range(1, greatest(len(t), 1) + 1, 96)) AS s))
SELECT doc_id,
  CAST((start_pos - 1) // 96 AS INT) AS chunk_id,
  CAST(start_pos AS BIGINT) AS start_pos,
  CAST(least(128, len(t) - start_pos + 1) AS BIGINT) AS n_tokens,
  md5(array_to_string(t[CAST(start_pos AS INT):CAST(least(len(t), start_pos + 127) AS INT)], ' ')) AS chunk_hash
FROM c ORDER BY doc_id, chunk_id""",
    "t27_exact_sample" ->
      """WITH r AS (SELECT lang, doc_id, md5('t27|' || CAST(doc_id AS VARCHAR)) AS r FROM documents),
q AS (SELECT lang, doc_id, row_number() OVER (PARTITION BY lang ORDER BY r, doc_id) AS rn FROM r)
SELECT lang, CAST(rn AS INT) AS rn, doc_id FROM q WHERE rn <= 25 ORDER BY lang, rn""",
    "t28_source_drift" ->
      """WITH tk AS (SELECT source, unnest(regexp_split_to_array(trim(text), '\s+')) AS w FROM documents),
sc AS (SELECT source, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) % 10000 AS b,
    CAST(count(*) AS BIGINT) AS k
  FROM tk WHERE w <> '' GROUP BY 1, 2),
al AS (SELECT b, CAST(sum(k) AS BIGINT) AS kall FROM sc GROUP BY 1),
ts AS (SELECT source, CAST(sum(k) AS BIGINT) AS ts FROM sc GROUP BY 1),
ta AS (SELECT CAST(sum(k) AS BIGINT) AS ta FROM sc),
u AS (SELECT sc.source, sc.k, ts.ts,
    ((length(bin(sc.k + 1)) - 1) - (length(bin(ts.ts + 1)) - 1))
      - ((length(bin(al.kall + 1)) - 1) - (length(bin(ta.ta + 1)) - 1)) AS u
  FROM sc JOIN al USING (b) JOIN ts USING (source) CROSS JOIN ta)
SELECT source, CAST(max(ts) AS BIGINT) AS n_tokens,
  CAST(sum(k * u) AS BIGINT) AS drift_units,
  CAST(CAST(sum(k * u) AS BIGINT) * 100 // greatest(max(ts), 1) AS BIGINT) AS mean_centibits
FROM u GROUP BY source ORDER BY source""",
    // t29: t21's scorer CTE-for-CTE, then the value-histogram tercile
    // rule bucket(v) = floor(3·c_lt/n) — never an ntile over a global
    // rank window; equal scores share a bucket by construction
    "t29_perplexity_buckets" ->
      s"""WITH $tercileCtes
SELECT ds.doc_id, ds.mean_centibits, b2.tercile,
  CASE b2.tercile WHEN 0 THEN 'head' WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
FROM ds JOIN b2 USING (mean_centibits) ORDER BY ds.doc_id""",
    "t30_ngram_novelty" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
g AS (SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS sh
  FROM tk, LATERAL (SELECT unnest(range(1, len(t)-6)) AS i) WHERE len(t) >= 8),
w AS (SELECT DISTINCT doc_id, sh FROM g),
nd AS (SELECT sh, CAST(count(*) AS BIGINT) AS nd FROM w GROUP BY 1),
st AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
    CAST(sum(CASE WHEN nd.nd = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
  FROM w JOIN nd USING (sh) GROUP BY 1)
SELECT d.doc_id,
  CAST(coalesce(st.n_windows, 0) AS BIGINT) AS n_windows,
  CAST(coalesce(st.n_novel, 0) AS BIGINT) AS n_novel,
  CAST(coalesce(st.n_novel, 0) * 10000 // greatest(coalesce(st.n_windows, 0), 1) AS BIGINT) AS novelty_bp
FROM documents d LEFT JOIN st USING (doc_id) ORDER BY d.doc_id""",
    // t32: windows template-flagged per (source, sh) with >= 3 docs
    // t33: d05's plant + adaptive-band recipe, cross-split candidates
    // only, s15's integer-cosine scoring, d11's per-train argmax
    "t33_semantic_decontam" ->
      """WITH e AS (
  SELECT vec_id, embedding FROM embeddings
  UNION ALL
  SELECT vec_id + 10000001,
    list_concat([CAST(CAST(embedding[1] AS DOUBLE) + 0.05 AS FLOAT)],
      embedding[2:])
  FROM embeddings WHERE vec_id % 50 = 0 AND vec_id < 150),
p AS (SELECT greatest(3, length(bin(count(*) - 1)) - 3) AS bits FROM e),
p2 AS (SELECT bits, least(64 // bits, bits + 1) AS nb FROM p),
bd AS (SELECT unnest(range(nb)) AS band, bits FROM p2),
b AS (SELECT e.vec_id, bd.band,
    list_sum(list_transform(range(bd.bits),
      r -> CASE WHEN e.embedding[CAST(bd.band * bd.bits + r + 1 AS INT)] >= 0
           THEN 1 << r ELSE 0 END)) AS bucket
  FROM e CROSS JOIN bd),
cand AS (SELECT DISTINCT t.vec_id AS src, bb.vec_id AS dst
  FROM b t JOIN b bb ON t.band = bb.band AND t.bucket = bb.bucket
  WHERE t.vec_id % 50 <> 0 AND bb.vec_id % 50 = 0),
eq AS (SELECT vec_id,
    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS mq
  FROM e),
e3 AS (SELECT vec_id, mq,
    CAST(list_sum(list_transform(mq, x -> x * x)) AS BIGINT) AS nq FROM eq),
sc AS (SELECT c.src, c.dst,
    CAST(floor(CAST(CAST(list_sum(list_transform(range(1, len(a.mq) + 1),
        i -> a.mq[i] * b.mq[i])) AS BIGINT) AS DOUBLE)
      / sqrt(CAST(a.nq * b.nq AS DOUBLE)) * 10000) AS BIGINT) AS cos_bp
  FROM cand c JOIN e3 a ON a.vec_id = c.src
    JOIN e3 b ON b.vec_id = c.dst),
f AS (SELECT src, dst, cos_bp FROM sc WHERE cos_bp >= 9000),
r AS (SELECT src, dst, cos_bp,
    row_number() OVER (PARTITION BY src ORDER BY cos_bp DESC, dst) AS rn
  FROM f)
SELECT src AS vec_id, dst AS dup_of, cos_bp FROM r WHERE rn = 1
ORDER BY vec_id""",
    "t32_template_share" ->
      """WITH tk AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
g AS (SELECT doc_id, md5(array_to_string(t[i:i+7], ' ')) AS sh
  FROM tk, LATERAL (SELECT unnest(range(1, len(t)-6)) AS i) WHERE len(t) >= 8),
w AS (SELECT DISTINCT g.doc_id, g.sh, d.source
  FROM g JOIN documents d USING (doc_id)),
tpl AS (SELECT source, sh FROM w GROUP BY 1, 2 HAVING count(*) >= 3),
st AS (SELECT w.doc_id, CAST(count(*) AS BIGINT) AS n_windows,
    CAST(sum(CASE WHEN tpl.sh IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_template
  FROM w LEFT JOIN tpl ON w.source = tpl.source AND w.sh = tpl.sh
  GROUP BY 1)
SELECT d.doc_id, d.source,
  CAST(coalesce(st.n_windows, 0) AS BIGINT) AS n_windows,
  CAST(coalesce(st.n_template, 0) AS BIGINT) AS n_template,
  CAST(coalesce(st.n_template, 0) * 10000 // greatest(coalesce(st.n_windows, 0), 1) AS BIGINT) AS template_bp
FROM documents d LEFT JOIN st USING (doc_id) ORDER BY d.doc_id""",
    // t31: rank from the freq histogram (t29's trick one level up);
    // min-rank so equal-freq terms share a band; floor-log2 via bin()
    "t31_zipf_profile" ->
      """WITH t AS (SELECT unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS term
  FROM documents),
v AS (SELECT term, CAST(count(*) AS BIGINT) AS freq FROM t
  WHERE length(term) > 0 GROUP BY 1),
hist AS (SELECT freq, CAST(count(*) AS BIGINT) AS nt FROM v GROUP BY 1),
r AS (SELECT freq,
    coalesce(sum(nt) OVER (ORDER BY freq DESC
      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + 1 AS rank_min
  FROM hist),
b AS (SELECT freq, CAST(length(bin(rank_min)) - 1 AS INT) AS bucket FROM r)
SELECT b.bucket, CAST(count(*) AS BIGINT) AS n_terms,
  CAST(sum(v.freq) AS BIGINT) AS n_occ,
  CAST(min(v.freq) AS BIGINT) AS min_freq,
  CAST(max(v.freq) AS BIGINT) AS max_freq
FROM v JOIN b USING (freq) GROUP BY 1 ORDER BY bucket""",
    "t01_token_count" ->
      """SELECT doc_id,
  CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_tokens_ws,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INT) AS n_tokens_bpe
FROM documents ORDER BY doc_id""",
    "t02_quality_score" ->
      """WITH m AS (SELECT doc_id,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS INT) AS n_words,
    CAST(len(regexp_extract_all(lower(text), '\b(the|a|of|and|in|to|is)\b')) AS INT) AS n_stopwords,
    CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS INT) AS n_punct
  FROM documents)
SELECT doc_id, n_words, n_stopwords, n_punct,
  round(0.4 * least(CAST(n_words AS DOUBLE) / 50.0, 1.0)
    + 0.4 * least((CAST(n_stopwords AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0)) * 4, 1.0)
    + 0.2 * (1.0 - least(CAST(n_punct AS DOUBLE) / greatest(CAST(n_words AS DOUBLE), 1.0), 1.0)), 4) AS quality
FROM m ORDER BY doc_id""",
    "t03_lang_id" -> langIdSql,
    "t04_fingerprint" ->
      """WITH a AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
t AS (SELECT doc_id, unnest(t) AS tok, unnest(range(1, len(t)+1)) AS pos FROM a)
SELECT doc_id,
  CAST(sum((CAST('0x' || substr(md5(tok), 1, 8) AS BIGINT) % 1000000007) * pos) % 1000000007 AS BIGINT) AS fingerprint
FROM t GROUP BY doc_id ORDER BY doc_id""",

    "t07_vocabulary" ->
      """WITH t AS (SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents)
SELECT token, count(*) AS tf, count(DISTINCT doc_id) AS df
FROM t GROUP BY token ORDER BY tf DESC, token LIMIT 50""",
    "t08_pii_redact" ->
      """SELECT c_custkey,
  regexp_replace(regexp_replace(
    c_name || ' can be reached at user' || c_custkey || '@example.com or +1-555-'
      || lpad(CAST(c_custkey % 10000 AS VARCHAR), 4, '0') || ' for account matters',
    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '[EMAIL]', 'g'),
    '\+?\d[\d-]{7,}\d', '[PHONE]', 'g') AS redacted_text
FROM customer ORDER BY c_custkey""",
    "t09_tfidf" ->
      """WITH t AS (SELECT doc_id,
    unnest(regexp_split_to_array(trim(lower(text)), '\s+')) AS token
  FROM documents),
tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
df AS (SELECT token, count(DISTINCT doc_id) AS df FROM t GROUP BY 1),
n AS (SELECT count(*) AS n_docs FROM documents),
sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
    CAST(floor(tf.tf * (n.n_docs + 1) * 10000 / (df.df + 1)) AS BIGINT) AS score_bp
  FROM tf JOIN df USING (token) CROSS JOIN n),
r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
    ORDER BY score_bp DESC, token) AS rn FROM sc)
SELECT doc_id, CAST(rn AS INT) AS rn, token, tf, df, score_bp
FROM r WHERE rn <= 3 ORDER BY doc_id, rn""",
    "t05_ngram_profile" ->
      """WITH n AS (SELECT lang, lower(regexp_replace(trim(text), '\s+', ' ', 'g')) AS t FROM documents),
g AS (SELECT lang, unnest(list_transform(range(1, len(t)-1), i -> substr(t, CAST(i AS INT), 3))) AS gram
  FROM n WHERE len(t) >= 3),
c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2),
r AS (SELECT lang, gram, cnt,
    row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram) AS rn FROM c)
SELECT lang, rn, gram, cnt FROM r WHERE rn <= 5 ORDER BY lang, rn""",
    "t06_validation_gate" ->
      """WITH x AS (SELECT o_orderkey,
    CASE WHEN o_orderkey % 7 = 0 THEN NULL ELSE o_totalprice END AS amount,
    CASE WHEN o_orderkey % 5 = 0 THEN NULL ELSE CAST(o_orderdate AS DATE) END AS order_date
  FROM orders)
SELECT o_orderkey, amount, order_date,
  (amount IS NOT NULL AND order_date IS NOT NULL) AS is_valid,
  CASE WHEN amount IS NULL AND order_date IS NULL THEN 'bad_amount;bad_date'
       WHEN amount IS NULL THEN 'bad_amount'
       WHEN order_date IS NULL THEN 'bad_date' END AS reasons
FROM x ORDER BY o_orderkey""",
    "m03_frame_sample" ->
      """WITH d AS (SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len, text
  FROM documents),
f AS (SELECT doc_id, kind, text, byte_len, unnest([0, 1, 2, 3]) AS frame_no FROM d)
SELECT doc_id, kind, frame_no,
  CAST(floor(byte_len * frame_no / 4) AS BIGINT) AS offset,
  md5(substr(text, CAST(floor(byte_len * frame_no / 4) AS INT) + 1, 16)) AS frame_hash
FROM f ORDER BY doc_id, frame_no""",
    "m04_label_centroids" ->
      """WITH x AS (SELECT label, unnest(embedding) AS v,
    unnest(range(1, len(embedding)+1)) AS idx FROM embeddings)
SELECT label, CAST(idx AS INT) AS idx,
  CAST(floor(avg(CAST(v AS DOUBLE)) * 1000) AS BIGINT) AS c_milli
FROM x GROUP BY label, idx ORDER BY label, idx""",
    "m02_blob_features" ->
      """WITH d AS (SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
    CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
    hex(encode(text)) AS h
  FROM documents),
st AS (SELECT doc_id, kind, byte_len,
    unnest(range(0, CAST(ceil(byte_len / 16.0) AS BIGINT))) AS stripe_no, h
  FROM d),
f AS (SELECT doc_id, kind, byte_len, stripe_no,
    substr(h, CAST(stripe_no * 32 AS INT) + 1, 32) AS sx
  FROM st)
SELECT doc_id, kind, byte_len, CAST(stripe_no AS INT) AS stripe_no,
  CAST(length(sx) // 2 AS INT) AS n_bytes,
  CAST(list_sum(list_transform(range(0, length(sx) // 2),
    i -> CAST(concat('0x', substr(sx, CAST(i * 2 AS INT) + 1, 2)) AS BIGINT)))
    * 1000 // (length(sx) // 2) AS BIGINT) AS mean_milli
FROM f ORDER BY doc_id, stripe_no""",
    "w03_session_window" ->
      """WITH e AS (SELECT event_id, user_id, value, CAST(ts AS TIMESTAMP) AS ts FROM events),
x AS (SELECT *, lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts FROM e),
y AS (SELECT *, CASE WHEN prev_ts IS NULL OR ts >= prev_ts + INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess FROM x),
z AS (SELECT *, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id FROM y)
SELECT user_id, min(ts) AS session_start,
  max(ts) + INTERVAL 30 MINUTE AS session_end,
  count(*) AS n_events, round(sum(value), 2) AS session_value
FROM z GROUP BY user_id, session_id ORDER BY user_id, session_start""",
    "m05_modality_stats" ->
      """WITH d AS (SELECT doc_id,
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len
  FROM documents)
SELECT kind, count(*) AS n_blobs,
  CAST(sum(byte_len) AS BIGINT) AS total_bytes,
  min(byte_len) AS min_bytes, max(byte_len) AS max_bytes,
  CAST(sum(CAST(ceil(byte_len / 16.0) AS BIGINT)) AS BIGINT) AS total_stripes
FROM d GROUP BY kind ORDER BY kind""",
    "m01_binary_meta" ->
      """SELECT doc_id,
  CASE WHEN doc_id % 3 = 0 THEN 'image'
       WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
  md5(text) AS content_hash
FROM documents ORDER BY doc_id""",
    // m08: t16's salted-hash shard rule, metadata-only aggregate
    "m08_shard_manifest" ->
      """WITH b AS (SELECT
    CASE WHEN doc_id % 3 = 0 THEN 'image'
         WHEN doc_id % 3 = 1 THEN 'audio' ELSE 'video' END AS kind,
    CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS byte_len,
    CAST('0x' || substr(md5('m08' || CAST(doc_id AS VARCHAR)), 1, 8) AS BIGINT) % 8 AS shard_id
  FROM documents)
SELECT shard_id, kind, CAST(count(*) AS BIGINT) AS n_items,
  CAST(sum(byte_len) AS BIGINT) AS total_bytes,
  CAST(max(byte_len) AS BIGINT) AS max_bytes
FROM b GROUP BY 1, 2 ORDER BY shard_id, kind""",
    // d16: the bloom pre-gate — plants replay as a VALUES union,
    // m = 1 << (ceil_log2(n_docs + 3) + 2) via length(bin(n-1)),
    // k = 3 salted md5 positions; Dedup.bloomGate integer-for-integer
    "d16_bloom_gate" ->
      raw"""WITH docs AS (SELECT doc_id, text FROM documents
  UNION ALL SELECT * FROM (VALUES
    (CAST(1000000001 AS BIGINT), 'graft bloom plant alpha alpha'),
    (CAST(1000000010 AS BIGINT), 'graft bloom plant alpha alpha'),
    (CAST(1000000020 AS BIGINT), 'graft bloom plant omega unique'))
    v(doc_id, text)),
h AS (SELECT doc_id,
    md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS ch
  FROM docs),
c AS (SELECT (CAST(1 AS BIGINT)
    << (length(bin((SELECT count(*) FROM h) - 1)) + 2)) AS m),
lake AS (SELECT * FROM h WHERE doc_id % 10 <> 0),
delta AS (SELECT * FROM h WHERE doc_id % 10 = 0),
lp AS (SELECT DISTINCT CAST('0x' || substr(md5('bloom'
      || CAST(i AS VARCHAR) || ch), 1, 8) AS BIGINT)
    % (SELECT m FROM c) AS pos
  FROM lake, range(3) r(i)),
dp AS (SELECT doc_id, CAST('0x' || substr(md5('bloom'
      || CAST(i AS VARCHAR) || ch), 1, 8) AS BIGINT)
    % (SELECT m FROM c) AS pos
  FROM delta, range(3) r(i)),
hit AS (SELECT dp.doc_id,
    CAST(count(*) FILTER (WHERE lp.pos IS NOT NULL) AS BIGINT) AS n_hit
  FROM dp LEFT JOIN lp ON dp.pos = lp.pos GROUP BY 1),
ex AS (SELECT d.doc_id, (l.ch IS NOT NULL) AS exact_dup
  FROM delta d LEFT JOIN (SELECT DISTINCT ch FROM lake) l ON d.ch = l.ch)
SELECT doc_id, n_hit, n_hit = 3 AS bloom_hit, exact_dup,
  (n_hit = 3 AND NOT exact_dup) AS false_positive
FROM hit JOIN ex USING (doc_id) ORDER BY doc_id""",
    // t36: integer-milli Flesch reading ease — whitespace words,
    // [.!?]+ sentence runs floored at 1, [aeiouy]+ vowel-group
    // syllable proxy; clamp to [0, 206835] keeps aggregate operands
    // nonnegative (trunc == floor on both engines)
    "t36_readability" ->
      raw"""WITH f AS (SELECT doc_id, lang, source,
    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS w,
    greatest(CAST(len(regexp_extract_all(trim(text), '[.!?]+')) AS BIGINT),
      1) AS sents,
    CAST(len(regexp_extract_all(lower(trim(text)), '[aeiouy]+'))
      AS BIGINT) AS syll
  FROM documents),
g AS (SELECT doc_id, lang, source,
    greatest(CAST(0 AS BIGINT), least(CAST(206835 AS BIGINT),
      206835 - (1015 * w) // sents - (84600 * syll) // w)) AS fre_milli
  FROM f)
SELECT lang, source, CAST(count(*) AS BIGINT) AS n_docs,
  CAST(CAST(sum(fre_milli) AS BIGINT) // count(*) AS BIGINT)
    AS mean_fre_milli,
  CAST(CAST(sum(CASE WHEN fre_milli >= 60000 THEN 1 ELSE 0 END)
    AS BIGINT) * 10000 // count(*) AS BIGINT) AS easy_share_bp
FROM g GROUP BY 1, 2 ORDER BY lang, source""",
    // r33: salted-md5 variant assignment, per-(variant, day) rollup,
    // floor-cents per purchase event, cumulative window on the
    // aggregated frame
    "r33_experiment_readout" ->
      """WITH e AS (SELECT
    CASE WHEN CAST('0x' || substr(md5('exp1'
        || CAST(user_id AS VARCHAR)), 1, 8) AS BIGINT) % 2 = 0
      THEN 'control' ELSE 'treatment' END AS variant,
    CAST(ts AS DATE) AS day, user_id, event_type,
    CAST(floor(value * 100) AS BIGINT) AS cents
  FROM events),
d AS (SELECT variant, day,
    CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
    CAST(count(*) AS BIGINT) AS n_events,
    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
      AS n_purchases,
    CAST(sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0 END)
      AS BIGINT) AS revenue_cents
  FROM e GROUP BY 1, 2)
SELECT variant, day, n_users, n_events, n_purchases, revenue_cents,
  CAST(sum(revenue_cents) OVER (PARTITION BY variant ORDER BY day)
    AS BIGINT) AS cum_revenue_cents
FROM d ORDER BY variant, day""",
    // t37: t03's marker-word prediction CTE verbatim, re-aggregated
    // into the (labeled, predicted) matrix; row share on the tiny
    // aggregated frame
    "t37_lang_confusion" -> langConfusionSql,
    // r34: (type, day) pre-aggregate, per-type rollup, 1-row frontier;
    // max_by ties impossible (day unique within type)
    "r34_volume_anomaly" ->
      """WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
    CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2),
f AS (SELECT max(day) AS frontier_day FROM daily),
p AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
    CAST(sum(n) AS BIGINT) AS total_events,
    min(day) AS first_day, max(day) AS last_day,
    CAST(max_by(n, day) AS BIGINT) AS last_day_events
  FROM daily GROUP BY 1)
SELECT event_type, n_days, total_events, first_day, last_day,
  total_events // n_days AS mean_daily, last_day_events,
  (last_day_events * 10000) // (total_events // n_days)
    AS last_vs_mean_bp,
  CAST(frontier_day - last_day AS BIGINT) AS stale_days
FROM p, f ORDER BY event_type""",
    // c13: c11's votes paired (6 unordered LF pairs); overlap/agree/
    // conflict per pair — Snorkel LFAnalysis' pairwise half
    "c13_lf_correlation" ->
      (s"""WITH t AS (SELECT doc_id, $docTokens AS toks FROM documents),
""" + weakLabelCtes + """,
p AS (SELECT 'lf_kw' AS lf_a, 'lf_len' AS lf_b, lf_kw AS va, lf_len AS vb FROM v
  UNION ALL SELECT 'lf_kw', 'lf_rep', lf_kw, lf_rep FROM v
  UNION ALL SELECT 'lf_kw', 'lf_stop', lf_kw, lf_stop FROM v
  UNION ALL SELECT 'lf_len', 'lf_rep', lf_len, lf_rep FROM v
  UNION ALL SELECT 'lf_len', 'lf_stop', lf_len, lf_stop FROM v
  UNION ALL SELECT 'lf_rep', 'lf_stop', lf_rep, lf_stop FROM v)
SELECT lf_a, lf_b,
  CAST(count(*) FILTER (va <> 0 AND vb <> 0) AS BIGINT) AS n_overlap,
  CAST(count(*) FILTER (va <> 0 AND vb <> 0)
    * 10000 // count(*) AS BIGINT) AS overlap_bp,
  CAST(count(*) FILTER (va <> 0 AND va = vb)
    * 10000 // count(*) AS BIGINT) AS agree_bp,
  CAST(count(*) FILTER (va * vb < 0)
    * 10000 // count(*) AS BIGINT) AS conflict_bp
FROM p GROUP BY lf_a, lf_b ORDER BY lf_a, lf_b"""),
    // t38: nested random prefixes via the salted-md5 decile, distinct
    // 3-shingle first-seen bucket, running sums on the 10-row frame
    "t38_vocab_growth" ->
      raw"""WITH d AS (SELECT doc_id,
    CAST('0x' || substr(md5('t38' || CAST(doc_id AS VARCHAR)), 1, 8)
      AS BIGINT) % 10 AS bucket,
    regexp_split_to_array(trim(text), '\s+') AS t
  FROM documents),
tk AS (SELECT bucket, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS g
  FROM d, unnest(range(1, len(t) - 1)) r(i)),
fs AS (SELECT g, CAST(min(bucket) AS BIGINT) AS bucket FROM tk GROUP BY g),
nb AS (SELECT bucket, CAST(count(*) AS BIGINT) AS new_shingles
  FROM fs GROUP BY 1),
db AS (SELECT bucket, CAST(count(*) AS BIGINT) AS n_docs FROM d GROUP BY 1),
g2 AS (SELECT db.bucket, db.n_docs,
    coalesce(nb.new_shingles, 0) AS new_shingles
  FROM db LEFT JOIN nb ON db.bucket = nb.bucket)
SELECT bucket, n_docs,
  CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT) AS cum_docs,
  new_shingles,
  CAST(sum(new_shingles) OVER (ORDER BY bucket) AS BIGINT) AS cum_vocab,
  CAST(sum(new_shingles) OVER (ORDER BY bucket) AS BIGINT) * 1000
    // CAST(sum(n_docs) OVER (ORDER BY bucket) AS BIGINT)
    AS vocab_per_doc_milli
FROM g2 ORDER BY bucket""",
    // s23: m04's BIGINT-milli centroids per (label, even/odd half),
    // integer squared distance, drift share on the |labels|-row frame
    "s23_centroid_drift" ->
      """WITH e AS (SELECT vec_id, label, CAST(vec_id % 2 AS INT) AS half,
    embedding FROM embeddings),
u AS (SELECT label, half, unnest(embedding) AS v,
    unnest(range(1, len(embedding)+1)) AS idx FROM e),
cm AS (SELECT label, half, idx,
    CAST(floor(avg(CAST(v AS DOUBLE)) * 1000) AS BIGINT) AS c
  FROM u GROUP BY 1, 2, 3),
d AS (SELECT a.label,
    CAST(sum((a.c - b.c) * (a.c - b.c)) AS BIGINT) AS dist2_milli
  FROM cm a JOIN cm b ON a.label = b.label AND a.idx = b.idx
    AND a.half = 0 AND b.half = 1 GROUP BY 1),
n AS (SELECT label, CAST(count(*) FILTER (half = 0) AS BIGINT) AS n_a,
    CAST(count(*) FILTER (half = 1) AS BIGINT) AS n_b FROM e GROUP BY 1),
t AS (SELECT greatest(CAST(sum(dist2_milli) AS BIGINT), 1) AS tot FROM d)
SELECT d.label, n_a, n_b, dist2_milli,
  (dist2_milli * 10000) // tot AS share_bp
FROM d JOIN n USING (label), t ORDER BY d.label""",
    // r35: first-order-month cohorts, floor-cents revenue, cumulative
    // window down the age axis of the aggregated triangle; cohort
    // size = the triangle's own age-0 active_users
    "r35_cohort_ltv" ->
      """WITH o AS (SELECT o_custkey,
    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS om,
    CAST(floor(o_totalprice * 100) AS BIGINT) AS cents FROM orders),
c AS (SELECT o_custkey, min(om) AS cohort FROM o GROUP BY 1),
j AS (SELECT o.o_custkey, c.cohort,
    CAST((year(om) * 12 + month(om))
      - (year(cohort) * 12 + month(cohort)) AS BIGINT) AS age_months,
    cents
  FROM o JOIN c USING (o_custkey)),
g AS (SELECT cohort, age_months,
    CAST(count(DISTINCT o_custkey) AS BIGINT) AS active_users,
    CAST(sum(cents) AS BIGINT) AS revenue_cents
  FROM j GROUP BY 1, 2),
cs AS (SELECT cohort, active_users AS cohort_users FROM g
  WHERE age_months = 0)
SELECT g.cohort, g.age_months, cohort_users, active_users,
  revenue_cents,
  CAST(sum(revenue_cents) OVER (PARTITION BY g.cohort
    ORDER BY g.age_months) AS BIGINT) AS cum_revenue_cents,
  CAST(sum(revenue_cents) OVER (PARTITION BY g.cohort
    ORDER BY g.age_months) AS BIGINT) // cohort_users AS ltv_cents
FROM g JOIN cs USING (cohort) ORDER BY cohort, age_months""",
    // r36: order-key self-join pairs (fanout bounded by basket size),
    // co >= 2 screen, margins + 1-row order-total broadcast,
    // integer bp/milli association metrics
    "r36_basket_affinity" ->
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
  FROM lineitem),
n AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n_orders FROM li),
pc AS (SELECT p, CAST(count(*) AS BIGINT) AS c FROM li GROUP BY 1),
pr AS (SELECT a.p AS part_a, b.p AS part_b,
    CAST(count(*) AS BIGINT) AS co
  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY 1, 2),
f AS (SELECT * FROM pr WHERE co >= 2)
SELECT part_a, part_b, co, ca.c AS n_a, cb.c AS n_b,
  (co * 10000) // n_orders AS support_bp,
  (co * 10000) // ca.c AS conf_a_bp,
  (co * 10000) // cb.c AS conf_b_bp,
  (co * n_orders * 1000) // (ca.c * cb.c) AS lift_milli
FROM f JOIN pc ca ON ca.p = part_a JOIN pc cb ON cb.p = part_b, n
ORDER BY part_a, part_b""")
}
