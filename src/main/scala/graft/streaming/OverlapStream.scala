package graft.streaming

import graft.Tables
import graft.operators.Relational
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Streaming twin #33 — r37 (sketchOverlap) maintained live: the
  * per-type KMV sketches are the MERGEABLE artifact (SketchStream's
  * kmv family over (event_type, user-hash)), the set ALGEBRA runs at
  * read time on the folded ≤|types|·k rows.
  *
  *  - fold grain: each delivery lands its own k-min (t, h) delta
  *    (distinct salted hashes, capped per type). Per-delta capping is
  *    LOSSLESS for the merged k-min set — a hash in the merged k
  *    smallest is necessarily within its own delta's k smallest (the
  *    monotone-merge property r37's pair union already relies on) —
  *    and min-merge is idempotent under at-least-once re-delivery
  *    even before the per-batch-id overwrite kicks in.
  *  - [[readOverlap]] re-caps the unioned deltas (distinct first —
  *    one user may ride the lake and a delta) and assembles through
  *    the SHARED Relational.overlapFromKept arithmetic, so stream and
  *    batch answers are bit-identical over the same events
  *    (spec-asserted parity: fold == batch r37 over lake ∪ deltas).
  *  - No frozen layout here at all: unlike the histogram width
  *    (SketchStream) or the coarse centroids (VectorIngestStream),
  *    the KMV sketch has no corpus-derived constant — k is a model
  *    constant — so arriving types simply open new sketch groups and
  *    the pair report grows to cover them.
  */
object OverlapStream {

  /** Incoming events (the testdata events schema). */
  val schema: StructType = EventStream.schema

  val K = 1024

  private val kmvSchema = StructType(Seq(
    StructField("t", StringType), StructField("h", LongType)))

  /** Seed the state from the lake's events: its k-min delta. */
  def seedFromLake(s: SparkSession, dir: String, stateDir: String,
      k: Int = K): Unit = {
    graft.plans.GraftExtensions.install(s)
    graft.plans.TopK.perKey(
        Relational.overlapHashes(Tables.events(s, dir)),
        Seq(col("t")), Seq(col("h").asc), k)
      .select(col("t"), col("h"))
      .write.mode("overwrite").parquet(s"$stateDir/kmv/delta_id=base")
  }

  /** One micro-batch: fold the delivery's k-min partial into its own
    * delta partition (overwrite — re-delivery replaces; the min-merge
    * is idempotent under replacement anyway).
    */
  def writeBatch(batch: DataFrame, stateDir: String, batchId: Long,
      k: Int = K): Unit = {
    val ss = batch.sparkSession // foreachBatch binds a CLONED session
    graft.plans.GraftExtensions.install(ss)
    graft.plans.TopK.perKey(Relational.overlapHashes(batch),
        Seq(col("t")), Seq(col("h").asc), k)
      .select(col("t"), col("h"))
      .write.mode("overwrite").parquet(s"$stateDir/kmv/delta_id=b$batchId")
  }

  /** The live r37 answer: re-cap the unioned k-min deltas, run the
    * shared set-algebra assembly. Empty-state tolerant via the
    * explicit schema.
    */
  def readOverlap(s: SparkSession, stateDir: String, k: Int = K): DataFrame = {
    graft.plans.GraftExtensions.install(s)
    Relational.overlapFromKept(
      graft.plans.TopK.perKey(
        s.read.schema(kmvSchema).parquet(s"$stateDir/kmv")
          .select(col("t"), col("h")).distinct(),
        Seq(col("t")), Seq(col("h").asc), k).cache(),
      k)
  }

  /** Drain `inDir` (arriving event deliveries) into the sketch state
    * seeded from the lake at `dir`.
    */
  def startFolding(s: SparkSession, inDir: String, dir: String,
      stateDir: String, checkpoint: String, k: Int = K): StreamingQuery = {
    val base = new org.apache.hadoop.fs.Path(s"$stateDir/kmv/delta_id=base")
    val fs = base.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(base)) seedFromLake(s, dir, stateDir, k)
    // one file = one delivery (the DqStream convention)
    s.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(inDir)
      .writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        writeBatch(batch, stateDir, id, k)
      }
      .start()
  }
}
