package graft.streaming

import graft.operators.Dedup
import graft.sources.PartitionPrune
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** Streaming incremental twin of d07 (near-dup CLUSTERS — the
  * transitive closure c08's leakage-safe splits key on): arriving
  * documents fold into a STORED labeling instead of forcing a full
  * connected-components re-run per delivery (r12 verdict item 6).
  *
  * State under `storeDir`:
  *  - `sigs/batch_id=N/` — the minhash signature index, seeded from
  *    the lake (batch_id=-1) and grown one partition per delivery
  *    (per-batch-id OVERWRITE — the at-least-once idempotency shape);
  *  - `labels/b=K/` — the full (doc_id, cluster_id) labeling,
  *    partitioned by doc bucket (doc buckets never migrate — a
  *    cluster-keyed layout would strand stale rows in emptied
  *    partitions under dynamic overwrite), each bucket sorted by
  *    doc_id for footer-stat lookups.
  *
  * Per micro-batch, everything is MERGE arithmetic, never a re-run:
  *  1. stateless row-local signatures (Dedup.rowMinhashCols — batch
  *     parity spec-asserted) land in the batch's own partition;
  *  2. verified edges incident to the batch: ONE band-key probe into
  *     the grown index (lake ∪ prior deliveries ∪ this batch — so
  *     batch-vs-batch and cross-delivery pairs ride the same join),
  *     est_sim ≥ 0.5 as the integer `matches ≥ 8` — d07's exact τ;
  *  3. edges CONTRACT to the cluster graph (old cluster ids + new doc
  *     ids — batch-sized, never the corpus) and Dedup.components
  *     computes the rename map old→min. Min-label merge is
  *     associative/idempotent/commutative (the r19 agg-merge law on
  *     labels), which is what makes re-delivery and crash-replay
  *     converge to the same fixpoint;
  *  4. the rename map applies to MEMBERS of renamed clusters only:
  *     one narrow broadcast-semi scan finds them (at 100 TB this scan
  *     is the price of not keeping a cluster→bucket posting family —
  *     a two-column columnar read, no shuffle; the posting family is
  *     the documented upgrade), and the rewrite touches ONLY the doc
  *     buckets holding affected/new rows (dynamic partition
  *     overwrite) — IO ∝ touched components, not the corpus.
  */
object ClusterStream {

  /** Doc-bucket count for the labels store layout. */
  val NBuckets = 64

  private def bucket(c: org.apache.spark.sql.Column) =
    pmod(c, lit(NBuckets.toLong))

  /** Seed the store: lake signatures + the batch d07 labeling. */
  def build(s: SparkSession, dir: String, storeDir: String): Unit = {
    Dedup.minhashSignatures(s, dir)
      .write.mode("overwrite").parquet(s"$storeDir/sigs/batch_id=-1")
    Dedup.dupClustersFrame(s, dir)
      .withColumn("b", bucket(col("doc_id")))
      .repartition(col("b")).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").partitionBy("b")
      .parquet(s"$storeDir/labels")
  }

  /** The stored labeling (doc_id, cluster_id) — the batch-d07-shaped
    * read surface the parity spec compares.
    */
  def labels(s: SparkSession, storeDir: String): DataFrame =
    s.read.parquet(s"$storeDir/labels")
      .select(col("doc_id"), col("cluster_id"))

  /** Fold one delivery into the store (idempotent under at-least-once
    * re-delivery: the signature write overwrites its own batch
    * partition, and re-merging already-merged labels is a fixpoint).
    */
  def foldBatch(batch0: DataFrame, storeDir: String, batchId: Long): Unit = {
    val ss = batch0.sparkSession // the foreachBatch CLONED session
    val batch = batch0.cache()
    try {
      // (1) stateless signatures → own partition (<3-token docs have
      // no shingles/null signature: label-only singletons)
      batch.select(col("doc_id") +: Dedup.rowMinhashCols(col("text")): _*)
        .filter(col("m0").isNotNull)
        .write.mode("overwrite").parquet(s"$storeDir/sigs/batch_id=$batchId")
      ss.catalog.refreshByPath(s"$storeDir/sigs")

      // (2) verified edges incident to this batch, against the GROWN
      // index (this batch's partition included — within-batch pairs
      // come through the same join); est_sim ≥ 0.5 as matches ≥ 8,
      // d07's τ — the SHARED primitive d18 gates
      val allSigs = ss.read.parquet(s"$storeDir/sigs")
        .select(col("doc_id") +: (0 until 16).map(i => col(s"m$i")): _*)
      val batchSigs = allSigs
        .join(batch.select(col("doc_id")), Seq("doc_id"), "left_semi")
      val edges = Dedup.verifiedIncidentEdges(batchSigs, allSigs)
        .localCheckpoint()

      // (3) contract to the cluster graph: endpoints + batch docs get
      // their CURRENT cluster (own id if unseen) — a lookup pruned
      // TWICE: the store's real partition column `b` (PartitionFilter
      // on the touched doc buckets) and the doc_id list (pushed row
      // filter inside them); batch-sized either way
      val labB = ss.read.parquet(s"$storeDir/labels") // (…, b) partition col
      val lab = labB.select(col("doc_id"), col("cluster_id"))
      def docPruned(ids: DataFrame): DataFrame =
        PartitionPrune.filterByKeys(
          PartitionPrune.filterByKeys(labB, "b",
            ids.select(bucket(col("doc_id")).as("b"))),
          "doc_id", ids)
          .select(col("doc_id"), col("cluster_id"))
      val nodes0 = batch.select(col("doc_id"))
        .union(edges.select(col("doc_a").as("doc_id")))
        .union(edges.select(col("doc_b").as("doc_id")))
        .distinct()
        .localCheckpoint() // feeds the bucket list, the id list, the join
      val curLbl = nodes0
        .join(docPruned(nodes0), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("cluster_id"), col("doc_id")).as("c"))
        .localCheckpoint()
      val cEdges = edges
        .join(curLbl.select(col("doc_id").as("doc_a"), col("c").as("x")), "doc_a")
        .join(curLbl.select(col("doc_id").as("doc_b"), col("c").as("y")), "doc_b")
        .select(lit(0).as("g"), col("x"), col("y"))
      // (node=old cluster, lbl=new) — the shared d07/d18 components;
      // a cluster with no merge edge is absent and keeps its id
      val merged = Dedup.components(cEdges).select(col("node"), col("lbl"))
      val renames = merged.filter(col("lbl") < col("node"))
        .select(col("node").as("oldc"), col("lbl").as("newc"))

      // (4) apply: members of renamed clusters (one narrow broadcast-
      // semi scan — see class doc) + this batch's new rows; rewrite
      // only the doc buckets that hold them
      val newRows = batch.select(col("doc_id"))
        .join(docPruned(batch).select(col("doc_id")), Seq("doc_id"),
          "left_anti")
        .join(curLbl, Seq("doc_id"), "left")
        .join(merged.select(col("node").as("cc"), col("lbl")),
          col("c") === col("cc"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("c"), col("doc_id")).as("cluster_id"))
      val affected = lab
        .join(broadcast(renames.select(col("oldc"))),
          col("cluster_id") === col("oldc"), "left_semi")
        .select(col("doc_id"))
      val touchedB = affected.union(newRows.select(col("doc_id")))
        .select(bucket(col("doc_id")).as("b")).distinct()
      // the store's own partition column — a real PartitionFilter,
      // not a recomputed bucket over a full scan
      val oldTouched = PartitionPrune.filterByKeys(labB, "b", touchedB)
      val rewritten = oldTouched
        .join(broadcast(renames), col("cluster_id") === col("oldc"), "left")
        .select(col("doc_id"),
          coalesce(col("newc"), col("cluster_id")).as("cluster_id"))
        .union(newRows)
        .withColumn("b", bucket(col("doc_id")))
        .localCheckpoint() // sever from the store BEFORE overwriting it
      rewritten
        .repartition(col("b")).sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("b").parquet(s"$storeDir/labels")
      ss.catalog.refreshByPath(s"$storeDir/labels")
    } finally { batch.unpersist(); () }
  }

  /** Drain `inDir` (arriving documents, the d11 schema) into the
    * store seeded by [[build]].
    */
  def startFold(s: SparkSession, inDir: String, storeDir: String,
      checkpoint: String): StreamingQuery =
    s.readStream.schema(IncrementalLshStream.schema).parquet(inDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        foldBatch(batch, storeDir, id)
      }
      .start()
}
