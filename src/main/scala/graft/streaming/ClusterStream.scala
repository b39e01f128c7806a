package graft.streaming

import graft.operators.Dedup
import graft.sources.PartitionPrune.filterByValues
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
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
  *     est_sim ≥ 0.5 as the integer `matches ≥ 8` — d07's exact τ —
  *     collected to the driver with the batch's doc ids;
  *  3. one pruned lookup collects the CURRENT cluster of every edge
  *     endpoint and batch doc; on the driver the edges CONTRACT to the
  *     cluster graph and Dedup.minRoots (d07's union-find) gives the
  *     rename map old→min. Min-label merge is associative/idempotent/
  *     commutative (the r19 agg-merge law on labels), which is what
  *     makes re-delivery and crash-replay converge to the same fixpoint;
  *  4. one narrow lookup finds the doc buckets holding MEMBERS of
  *     renamed clusters (at 100 TB the price of not keeping a
  *     cluster→bucket posting family, the documented upgrade), and ONE
  *     rewrite touches only those buckets and the new rows' (dynamic
  *     partition overwrite) — IO ∝ touched components, not the corpus.
  *
  * Every collect is bounded by Dedup.DriverMaxEdges. A delivery over
  * it folds in doc_id slices (`pmod(doc_id, k) == i`), one after
  * another through steps 2–4: min-label merge is associative, and
  * step 1 wrote the whole delivery's signatures, so a later slice's
  * probe finds every cross-slice edge again.
  */
object ClusterStream {

  /** Doc-bucket count for the labels store layout. */
  val NBuckets = 64

  private def bucket(c: Column) = pmod(c, lit(NBuckets.toLong))

  private def bucketOf(docId: Long): Long = Math.floorMod(docId, NBuckets.toLong)

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
    val batch = batch0.cache() // batch0 is on the foreachBatch CLONED session
    try {
      writeSignatures(batch, storeDir, batchId)
      foldSlice(batch, storeDir, 1L, 0L)
    } finally { batch.unpersist(); () }
  }

  /** (1) stateless signatures → the batch's own partition (<3-token
    * docs have no shingles/null signature: label-only singletons).
    */
  private[graft] def writeSignatures(batch: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    batch.select(col("doc_id") +: Dedup.rowMinhashCols(col("text")): _*)
      .filter(col("m0").isNotNull)
      .write.mode("overwrite").parquet(s"$storeDir/sigs/batch_id=$batchId")
    batch.sparkSession.catalog.refreshByPath(s"$storeDir/sigs")
  }

  /** Steps 2–4 for the delivery's docs with `pmod(doc_id, k) == i`,
    * after step 1. A slice whose doc ids, edges or endpoints exceed
    * Dedup.DriverMaxEdges folds as its halves (2k, i) and (2k, i + k).
    */
  private[graft] def foldSlice(batch: DataFrame, storeDir: String,
      k: Long, i: Long): Unit = {
    val ss = batch.sparkSession
    val max = Dedup.DriverMaxEdges
    val ids = batch.filter(pmod(col("doc_id"), lit(k)) === i)
      .select(col("doc_id")).limit(max + 1).collect().map(_.getLong(0)).distinct
    // (2) verified edges incident to the slice, against the GROWN
    // index (this batch's partition included — within-batch pairs
    // come through the same join) — the SHARED primitive d18 gates
    val allSigs = ss.read.parquet(s"$storeDir/sigs")
      .select(col("doc_id") +: (0 until 16).map(j => col(s"m$j")): _*)
    val edges =
      if (ids.isEmpty || ids.length > max) Array.empty[(Long, Long)]
      else Dedup.verifiedIncidentEdges(
          filterByValues(allSigs, "doc_id", ids.toSeq), allSigs)
        .limit(max + 1).collect().map(r => (r.getLong(0), r.getLong(1)))
    val nodes = (ids ++ edges.flatMap(e => Array(e._1, e._2))).distinct
    if (ids.length > max || edges.length > max || nodes.length > max) {
      require(ids.length > 1, s"doc ${ids.head} has over $max near-dup edges")
      Seq(i, i + k).foreach(foldSlice(batch, storeDir, 2 * k, _))
    } else if (ids.nonEmpty) {
      // (3) the nodes' CURRENT cluster (own id if unseen): one lookup
      // pruned on the store's partition column `b` and the doc_id list
      val labB = ss.read.parquet(s"$storeDir/labels") // (…, b) partition col
      val cur = filterByValues(
          labB.filter(col("b").isin(nodes.map(bucketOf).distinct.toSeq: _*)),
          "doc_id", nodes.toSeq)
        .select(col("doc_id"), col("cluster_id")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      def cluster(n: Long) = cur.getOrElse(n, n)
      // contract to the cluster graph; a cluster with no merge edge is
      // absent from the roots and keeps its id
      val root = Dedup.minRoots(edges.iterator.map(e => (cluster(e._1), cluster(e._2))))
      val renames = root.toSeq.filter { case (c, l) => l < c }
      val newRows = ids.toSeq.filterNot(cur.contains).map(d => (d, root.getOrElse(d, d)))
      // (4) rewrite the buckets holding renamed clusters' members (one
      // narrow lookup) and the new rows'; dynamic overwrite stages the
      // output and swaps bucket dirs only at job commit, after every
      // read of the old files
      val renamedB = if (renames.isEmpty) Array.empty[Long]
        else filterByValues(labB, "cluster_id", renames.map(_._1))
          .select(col("b").cast("long")).distinct().collect().map(_.getLong(0))
      val touched = (renamedB ++ newRows.map(r => bucketOf(r._1))).distinct
      if (touched.nonEmpty) {
        labB.filter(col("b").isin(touched.toSeq: _*))
          .join(broadcast(ss.createDataFrame(renames).toDF("oldc", "newc")),
            col("cluster_id") === col("oldc"), "left")
          .select(col("doc_id"),
            coalesce(col("newc"), col("cluster_id")).as("cluster_id"))
          .union(ss.createDataFrame(newRows).toDF("doc_id", "cluster_id"))
          .withColumn("b", bucket(col("doc_id")))
          .repartition(col("b")).sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("b").parquet(s"$storeDir/labels")
        ss.catalog.refreshByPath(s"$storeDir/labels")
      }
    }
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
