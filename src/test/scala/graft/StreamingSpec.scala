package graft

import java.nio.file.Files
import java.sql.Timestamp
import graft.streaming.EventStream
import org.apache.spark.sql.SaveMode

/** The streaming path (file source → watermark → windowed agg →
  * memory sink) must agree with its batch twin on the same data.
  */
class StreamingSpec extends SparkSpecBase {
  import spark.implicits._

  test("streamed windowed counts equal the batch twin") {
    val dir = Files.createTempDirectory("graft-stream").toString
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val rows = Seq(
      (1L, ts(0), 10L, "click", 1.0, "{}"),
      (2L, ts(10), 10L, "click", 2.0, "{}"),
      (3L, ts(70), 11L, "view", 3.0, "{}"),
      (4L, ts(75), 11L, "click", 4.0, "{}"),
      (5L, ts(130), 12L, "view", 5.0, "{}"))
    val df = rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.write.mode(SaveMode.Overwrite).parquet(dir)

    val q = EventStream.startToMemory(spark, dir, "stream_counts")
    try {
      q.processAllAvailable()
      val streamed = spark.table("stream_counts")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      val batch = EventStream.windowedCounts(df)
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2),
          r.getDouble(3))).toSet
      assert(streamed == batch)
      assert(streamed.size == 4) // (h0 click), (h1 view), (h1 click), (h2 view)
      assert(streamed.exists { case (_, t, n, v) => t == "click" && n == 2 && v == 3.0 })
    } finally q.stop()
  }

  test("availableNow parquet sink lands the backlog exactly once") {
    val in = Files.createTempDirectory("graft-sink-in").toString
    val out = Files.createTempDirectory("graft-sink-out").toString + "/events"
    val ckpt = Files.createTempDirectory("graft-sink-ckpt").toString
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val rows = (1 to 20).map(i => (i.toLong, ts(i), i % 3L, "click", i * 1.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(in)
    val q1 = EventStream.startToParquet(spark, in, out, ckpt)
    q1.awaitTermination()
    assert(spark.read.parquet(out).count() == 20)
    // re-run with the same checkpoint: nothing new → no duplicates
    val q2 = EventStream.startToParquet(spark, in, out, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(out).count() == 20)
  }

  test("stream-stream join attributes purchases to preceding clicks") {
    val dir = Files.createTempDirectory("graft-attr").toString
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val rows = Seq(
      (1L, ts(0), 7L, "click", 0.0, "{}"),
      (2L, ts(30), 7L, "purchase", 99.0, "{}"),   // joins click 1 (30m before)
      (3L, ts(100), 7L, "click", 0.0, "{}"),
      (4L, ts(200), 7L, "purchase", 50.0, "{}"),  // click 3 is 100m before → outside 1h
      (5L, ts(10), 8L, "click", 0.0, "{}"),
      (6L, ts(20), 9L, "purchase", 10.0, "{}"))   // other user's click → no match
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val q = EventStream.purchaseAttribution(
        EventStream.readEventsStream(spark, dir))
      .writeStream.format("memory").queryName("attribution")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val out = spark.table("attribution")
        .collect().map(r => (r.getLong(0), r.getLong(3))).toSet
      assert(out == Set((2L, 1L)), s"got $out")
    } finally q.stop()
  }

  test("streaming top-k state converges to the batch top-k across batches") {
    val in = Files.createTempDirectory("graft-topk-in").toString
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    def write(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode(SaveMode.Append).parquet(in)
    // batch 1: user 1 has values 1..5; user 2 has 10
    write((1 to 5).map(i => (i.toLong, ts(i), 1L, "click", i * 1.0, "{}")) :+
      (10L, ts(10), 2L, "click", 10.0, "{}"))
    val stream = graft.streaming.EventStream.readEventsStream(spark, in)
    val q = graft.streaming.TopKStream.startToMemory(stream, "topk_stream", 3)
    try {
      q.processAllAvailable()
      // batch 2: a new high value for user 1 must displace the old min
      write(Seq((6L, ts(20), 1L, "click", 99.0, "{}")))
      q.processAllAvailable()
      // memory sink in update mode: take the LAST update per user
      val latest = spark.table("topk_stream")
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toMap
      assert(latest(1L) == Seq(6L, 5L, 4L), s"got ${latest(1L)}")
      assert(latest(2L) == Seq(10L))
    } finally q.stop()
  }

  test("foreachBatch merge sink never duplicates replayed keys") {
    val in = Files.createTempDirectory("graft-merge-in").toString
    val out = Files.createTempDirectory("graft-merge-out").toString + "/events"
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    def write(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode(SaveMode.Append).parquet(in)
    write((1 to 5).map(i => (i.toLong, ts(i), 1L, "click", 1.0, "{}")))
    // fresh checkpoint per drain simulates an at-least-once source
    // that re-delivers the whole input — the merge must still dedupe
    def drain() = EventStream.startMergeToParquet(spark, in, out,
      Files.createTempDirectory("graft-merge-ckpt").toString,
      Seq("event_id")).awaitTermination()
    drain()
    assert(spark.read.parquet(out).count() == 5)
    // second delivery: 5 replayed keys + 2 new ones → only 2 land
    write(Seq((4L, ts(4), 1L, "click", 1.0, "{}"),
      (6L, ts(6), 1L, "view", 2.0, "{}"),
      (7L, ts(7), 1L, "view", 3.0, "{}")))
    drain()
    val ids = spark.read.parquet(out).collect().map(_.getLong(0)).sorted.toSeq
    assert(ids == (1L to 7L), s"got $ids")
  }

  test("streaming aggregate-state merge equals the direct batch aggregate") {
    import org.apache.spark.sql.functions.{col, count, floor, lit, sum}
    val in = Files.createTempDirectory("graft-agg-in").toString
    val state = Files.createTempDirectory("graft-agg-out").toString + "/state"
    val ckpt = Files.createTempDirectory("graft-agg-ckpt").toString
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    def write(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode(SaveMode.Append).parquet(in)
    // persistent checkpoint across drains: the second drain processes
    // ONLY the newly arrived files — the state merge carries history
    def drain() = EventStream.startAggMergeToParquet(spark, in, state, ckpt)
      .awaitTermination()
    write(Seq((1L, ts(1), 1L, "click", 1.10, "{}"),
      (2L, ts(2), 1L, "view", 2.75, "{}"),
      (3L, ts(3), 2L, "click", 0.45, "{}")))
    drain()
    write(Seq((4L, ts(4), 2L, "view", 3.33, "{}"),
      (5L, ts(5), 1L, "click", 9.99, "{}")))
    drain()
    val got = spark.read.parquet(state).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("sum_cents"), r.getAs[Long]("n_events"))).toMap
    // merge law: the maintained state equals the direct aggregate
    // over everything ever delivered
    val want = spark.read.parquet(in)
      .groupBy(col("event_type"))
      .agg(sum(floor(col("value") * 100)).cast("long").as("sum_cents"),
        count(lit(1)).as("n_events"))
      .collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("sum_cents"), r.getAs[Long]("n_events"))).toMap
    assert(got == want, s"state $got vs direct $want")
    assert(got("click") == ((1154L, 3L))) // 110 + 45 + 999 cents
  }

  test("agg merge sink recovers a crash between the two swap renames") {
    import org.apache.spark.sql.functions.{col, count, floor, lit, sum}
    val in = Files.createTempDirectory("graft-aggc-in").toString
    val state = Files.createTempDirectory("graft-aggc-out").toString + "/state"
    val ckpt = Files.createTempDirectory("graft-aggc-ckpt").toString
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    def write(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode(SaveMode.Append).parquet(in)
    def drain() = EventStream.startAggMergeToParquet(spark, in, state, ckpt)
      .awaitTermination()
    write(Seq((1L, ts(1), 1L, "click", 1.10, "{}"),
      (2L, ts(2), 1L, "view", 2.75, "{}")))
    drain()
    // simulate a crash caught between rename(state→old) and
    // rename(tmp→state): state dir gone, __agg_old holds the history,
    // a stale tmp (from the unacked batch) may linger
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(state), spark.sparkContext.hadoopConfiguration)
    val statePath = new org.apache.hadoop.fs.Path(state)
    assert(fs.rename(statePath, new org.apache.hadoop.fs.Path(state + "__agg_old")))
    fs.mkdirs(new org.apache.hadoop.fs.Path(state + "__agg_tmp"))
    assert(!fs.exists(statePath))
    write(Seq((3L, ts(3), 2L, "click", 0.45, "{}")))
    drain() // startup recovery must restore __agg_old before merging
    val got = spark.read.parquet(state).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("sum_cents"), r.getAs[Long]("n_events"))).toMap
    assert(got == Map("click" -> ((155L, 2L)), "view" -> ((275L, 1L))),
      s"history lost across simulated crash: $got")
  }

  test("agg merge sink skips a replayed batch id (marker inside state dir)") {
    val in = Files.createTempDirectory("graft-aggr-in").toString
    val state = Files.createTempDirectory("graft-aggr-out").toString + "/state"
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    Seq((1L, ts(1), 1L, "click", 1.10, "{}"), (2L, ts(2), 1L, "view", 2.75, "{}"))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Append).parquet(in)
    // fresh checkpoint per drain ⇒ the SAME input re-delivers as batch 0
    def drain() = EventStream.startAggMergeToParquet(spark, in, state,
      Files.createTempDirectory("graft-aggr-ckpt").toString).awaitTermination()
    drain()
    val fs = org.apache.hadoop.fs.FileSystem.get(
      new java.net.URI(state), spark.sparkContext.hadoopConfiguration)
    // marker committed atomically WITH the state (inside the dir), not after
    assert(fs.exists(new org.apache.hadoop.fs.Path(state + "/_batch")))
    drain() // replayed batch 0 must be a no-op, not a double-merge
    val got = spark.read.parquet(state).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("sum_cents"), r.getAs[Long]("n_events"))).toMap
    assert(got == Map("click" -> ((110L, 1L)), "view" -> ((275L, 1L))),
      s"replayed batch double-merged: $got")
    // upgrade path: a pre-r8 state dir has the marker in a SIBLING
    // file and no in-dir _batch — simulate it and replay again: the
    // fallback must still skip, and the next publish retires the
    // legacy marker
    fs.delete(new org.apache.hadoop.fs.Path(state + "/_batch"), false)
    val legacy = new org.apache.hadoop.fs.Path(state + "_last_batch")
    val out = fs.create(legacy, true)
    try out.writeLong(0L) finally out.close()
    drain() // batch 0 again: legacy marker says it's merged → skip
    val got2 = spark.read.parquet(state).collect()
      .map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("sum_cents"), r.getAs[Long]("n_events"))).toMap
    assert(got2 == got, s"legacy-marker batch double-merged: $got2")
  }

  test("stratified sampling transform runs unchanged on a document stream") {
    val dir = Files.createTempDirectory("graft-sample-stream").toString
    val docs = (0L until 200L).map(i =>
      (i, s"text $i", Seq("en", "de", "es", "fr")((i % 4).toInt), "s", 6L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val stream = spark.readStream
      .schema(spark.read.parquet(dir).schema).parquet(dir)
    val q = operators.TextOps.sampleTransform(stream)
      .writeStream.format("memory").queryName("sample_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sample_stream")
        .collect().map(_.getLong(0)).toSet
      val batch = operators.TextOps.sampleTransform(spark.read.parquet(dir))
        .collect().map(_.getLong(0)).toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally q.stop()
  }

  test("streaming dedup drops duplicate event ids within the watermark") {
    val dir = Files.createTempDirectory("graft-dedup-stream").toString
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    val rows = Seq(
      (1L, ts(0), 10L, "click", 1.0, "{}"),
      (1L, ts(0), 10L, "click", 1.0, "{}"),   // exact duplicate
      (2L, ts(5), 10L, "view", 2.0, "{}"))
    rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      .write.mode(SaveMode.Overwrite).parquet(dir)
    val q = EventStream.dedupedEvents(EventStream.readEventsStream(spark, dir))
      .writeStream.format("memory").queryName("dedup_stream")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      val ids = spark.table("dedup_stream").collect().map(_.getLong(0)).sorted
      assert(ids.toSeq == Seq(1L, 2L))
    } finally q.stop()
  }

  test("streaming curation twin: replayed corpus lands with batch row parity") {
    import graft.streaming.CurationStream
    val inDir = Files.createTempDirectory("graft-cur-in").toString
    val outDir = Files.createTempDirectory("graft-cur-out").toString + "/table"
    val ckDir = Files.createTempDirectory("graft-cur-ck").toString
    def ts(min: Int) = new Timestamp(1700000000000L + min * 60000L)
    // a corpus of distinct docs: quality gate keeps the wordy ones,
    // the hash sample then thins per language
    val docs = (0L until 120L).map { i =>
      val good = "the quick brown fox jumps over the lazy dog " +
        s"document number $i with plenty of words, punctuation and the like."
      val bad = s"x$i"
      (i, if (i % 3 == 0) bad else good,
        Seq("en", "de", "es", "fr")((i % 4).toInt), "s", 10L, ts(i.toInt))
    }
    val df = docs.toDF("doc_id", "text", "lang", "source", "n_chars", "ts")
    // REPLAY: the same corpus delivered twice (two files, same rows) —
    // the watermarked content dedup + idempotent merge sink must land
    // each doc exactly once
    df.write.mode(SaveMode.Append).parquet(inDir)
    df.write.mode(SaveMode.Append).parquet(inDir)
    val q = CurationStream.start(spark, inDir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("quality_bp"), r.getAs[Long]("n_tokens"))).toSet
    // batch twin over ONE copy of the corpus (contents are distinct,
    // so the batch dedup is a no-op and parity is exact rows)
    val batch = CurationStream.curatedDocs(df)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Long]("quality_bp"), r.getAs[Long]("n_tokens"))).toSet
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    assert(streamed.nonEmpty)
    // the gate actually gated and the sample actually sampled
    assert(streamed.size < 120)
  }

  test("streaming incremental LSH twin: arriving deltas classify exactly like batch d11") {
    import graft.streaming.IncrementalLshStream
    val dir = Files.createTempDirectory("graft-ilsh").toString
    val inDir = Files.createTempDirectory("graft-ilsh-in").toString
    val outDir = Files.createTempDirectory("graft-ilsh-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-ilsh-ck").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    val near = base.replace("lazy dog", "sleepy dog")
    val other = "entirely different words about distributed query engines " * 4
    // lake = ids not divisible by 10; deltas = 0,10,20,30
    val rows = Seq(
      (0L, base), (10L, near),
      (20L, "zeta eta theta iota kappa lambda mu nu xi omicron pi rho " * 4),
      (30L, "x y"), // deltas (20 shares nothing with the lake; 30 has <3 tokens)
      (1L, base), (2L, other), (11L, near + " extra"))                     // lake
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // the deltas ARRIVE as two separate files (two micro-batch groups)
    df.filter($"doc_id" % 10 === 0 && $"doc_id" < 20)
      .write.mode(SaveMode.Append).parquet(inDir)
    df.filter($"doc_id" % 10 === 0 && $"doc_id" >= 20)
      .write.mode(SaveMode.Append).parquet(inDir)
    val q = IncrementalLshStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("status"),
        Option(r.getAs[Any]("dup_of")), Option(r.getAs[Any]("est_sim_bp")))).toSet
    val streamed = asSet(spark.read.parquet(outDir))
    val batch = asSet(operators.Dedup.incrementalLsh(spark, dir))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    // the interesting classifications actually happened
    val byId = streamed.map(t => t._1 -> t._2).toMap
    assert(byId(0L) == "near_dup_of_index")  // exact lake copy exists
    assert(byId(10L) == "near_dup_of_index") // near-dup of lake doc 11
    assert(byId(20L) == "kept")              // unique tail
    assert(byId(30L) == "kept")              // <3 tokens: no signature
    // replay with the same checkpoint: no re-delivery, no duplicates
    val q2 = IncrementalLshStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q2.awaitTermination() finally q2.stop()
    assert(spark.read.parquet(outDir).count() == 4)
    // at-least-once crash shape: the SAME batch id delivered twice
    // (crash between sink write and checkpoint commit) overwrites its
    // own partition instead of appending duplicates
    val outDir2 = Files.createTempDirectory("graft-ilsh-out2").toString + "/out"
    val lakeSig = IncrementalLshStream.lakeSignatures(spark, dir)
    IncrementalLshStream.writeBatch(spark.read.parquet(inDir), lakeSig,
      outDir2, batchId = 0L)
    IncrementalLshStream.writeBatch(spark.read.parquet(inDir), lakeSig,
      outDir2, batchId = 0L)
    assert(spark.read.parquet(outDir2).count() == 4)
  }

  test("streaming excise twin: arriving docs decontaminate exactly like batch t17") {
    import graft.streaming.ExciseStream
    val dir = Files.createTempDirectory("graft-exc").toString
    val inDir = Files.createTempDirectory("graft-exc-in").toString
    val outDir = Files.createTempDirectory("graft-exc-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-exc-ck").toString
    val bench = (1 to 10).map(i => s"eval$i").mkString(" ")
    val leaked = "keep these three " +
      (1 to 6).map(i => s"eval$i").mkString(" ") + " tail words"
    val clean = (1 to 8).map(i => s"train$i").mkString(" ")
    val fully = (3 to 8).map(i => s"eval$i").mkString(" ")
    val rows = Seq((0L, bench), (1L, leaked), (2L, clean), (3L, fully))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // the training docs ARRIVE as two separate files (two batch groups)
    df.filter($"doc_id" === 1L).write.mode(SaveMode.Append).parquet(inDir)
    df.filter($"doc_id" === 2L || $"doc_id" === 3L)
      .write.mode(SaveMode.Append).parquet(inDir)
    val q = ExciseStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_spans"),
        r.getAs[Long]("n_removed"), r.getAs[String]("clean_text"))).toSet
    val streamed = asSet(spark.read.parquet(outDir))
    val batch = asSet(operators.TextOps.contaminationExcise(spark, dir))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    // the excision actually excised: merged span, passthrough, full cut
    assert(streamed == Set(
      (1L, 1, 6L, "keep these three tail words"),
      (2L, 0, 0L, clean),
      (3L, 1, 6L, "")))
    // replay with the same checkpoint: no re-delivery, no duplicates
    val q2 = ExciseStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q2.awaitTermination() finally q2.stop()
    assert(spark.read.parquet(outDir).count() == 3)
    // at-least-once crash shape: double delivery of one batch id is
    // an overwrite, not an append
    val outDir2 = Files.createTempDirectory("graft-exc-out2").toString + "/out"
    val bench2 = ExciseStream.benchShingles(spark, dir)
    ExciseStream.writeBatch(spark.read.parquet(inDir), bench2, outDir2, 0L)
    ExciseStream.writeBatch(spark.read.parquet(inDir), bench2, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == 3)
  }

  test("self-dedup stream: one-batch output equals batch t19 on lake ∪ delta") {
    import graft.streaming.SelfDedupStream
    val lakeDir = Files.createTempDirectory("graft-sdd-lake").toString
    val allDir = Files.createTempDirectory("graft-sdd-all").toString
    val inDir = Files.createTempDirectory("graft-sdd-in").toString
    val outDir = Files.createTempDirectory("graft-sdd-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-sdd-ck").toString
    val p = (1 to 8).map(i => s"p$i").mkString(" ")  // lake-canonical phrase
    val q = (1 to 8).map(i => s"q$i").mkString(" ")  // batch-internal dup
    val r = (1 to 8).map(i => s"r$i").mkString(" ")  // DELTA-canonical phrase
    val lakeRows = Seq((1L, s"alpha beta $p gamma"), (9L, s"omega $r"))
    val deltaRows = Seq(
      (4L, s"$r delta side first"),      // (4,1) < (9,2) lexicographic: delta canonical
      (10L, s"x y $p z"),                // lake-duplicated → excised
      (20L, s"lead in $q out"),          // batch canonical for q
      (30L, s"$q trailing words here"))  // later in batch → excised
    def mk(rows: Seq[(Long, String)], d: String): Unit =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .write.mode(SaveMode.Overwrite).parquet(s"$d/documents.parquet")
    mk(lakeRows, lakeDir)
    mk(lakeRows ++ deltaRows, allDir)
    deltaRows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    val sq = SelfDedupStream.startToParquet(spark, inDir, lakeDir, outDir, ckDir)
    try sq.awaitTermination() finally sq.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Int]("n_spans"),
        x.getAs[Long]("n_removed"), x.getAs[String]("clean_text"))).toSet
    val streamed = asSet(spark.read.parquet(outDir))
    val deltaIds = deltaRows.map(_._1).toSet
    val batch = asSet(operators.TextOps.selfDedup(spark, allDir)
      .filter($"doc_id".isin(deltaIds.toSeq: _*)))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    // and the semantics are the intended ones
    assert(streamed == Set(
      (4L, 0, 0L, s"$r delta side first"),   // delta-canonical: kept whole
      (10L, 1, 8L, "x y z"),
      (20L, 0, 0L, s"lead in $q out"),
      (30L, 1, 8L, "trailing words here")))
    // at-least-once: double delivery of a batch id overwrites, not appends
    val outDir2 = Files.createTempDirectory("graft-sdd-out2").toString + "/out"
    val idx = SelfDedupStream.lakeIndex(spark, lakeDir)
    SelfDedupStream.writeBatch(spark.read.parquet(inDir), idx, outDir2, 0L)
    SelfDedupStream.writeBatch(spark.read.parquet(inDir), idx, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == 4)
  }

  test("self-dedup stream folding: cross-delta-batch duplicates dedupe via the evolving index") {
    import graft.streaming.SelfDedupStream
    val lakeDir = Files.createTempDirectory("graft-sdf-lake").toString
    val inDir = Files.createTempDirectory("graft-sdf-in").toString
    val outDir = Files.createTempDirectory("graft-sdf-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-sdf-ck").toString
    val idxDir = Files.createTempDirectory("graft-sdf-idx").toString + "/idx"
    val w = (1 to 8).map(i => s"v$i").mkString(" ") // ABSENT from the lake
    Seq((1L, "lake doc with entirely unrelated content", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$lakeDir/documents.parquet")
    def deliver(rows: Seq[(Long, String)]): Unit = {
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
      val sq = SelfDedupStream.startFolding(spark, inDir, lakeDir, outDir,
        ckDir, idxDir)
      try sq.awaitTermination() finally sq.stop()
    }
    // two AvailableNow runs = two delta batches over one checkpoint;
    // the static-index mode would keep BOTH copies of w (the
    // documented seam) — the folded index must excise the second
    deliver(Seq((100L, s"one $w two")))
    deliver(Seq((200L, s"$w again words")))
    val out = spark.read.parquet(outDir).collect()
      .map(x => x.getAs[Long]("doc_id") -> (x.getAs[Int]("n_spans"),
        x.getAs[Long]("n_removed"), x.getAs[String]("clean_text"))).toMap
    assert(out(100L) == ((0, 0L, s"one $w two")), out(100L).toString)
    assert(out(200L) == ((1, 8L, "again words")), out(200L).toString)
    // at-least-once re-delivery: the batch's canons are already in the
    // index, its posKey equals that folded canon (min-merge
    // idempotency), so a replay produces identical output
    val outDir2 = Files.createTempDirectory("graft-sdf-out2").toString + "/out"
    val b2 = Seq((200L, s"$w again words", "en", "s", 0L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    SelfDedupStream.writeBatchFold(b2, idxDir, outDir2, 1L)
    SelfDedupStream.writeBatchFold(b2, idxDir, outDir2, 1L)
    val replay = spark.read.parquet(outDir2).collect()
    assert(replay.length == 1 &&
      replay.head.getAs[String]("clean_text") == "again words")
  }

  test("multiblock simhash stream: arriving docs classify against the lake index") {
    import graft.streaming.MultiblockSimhashStream
    val dir = Files.createTempDirectory("graft-mbs").toString
    val inDir = Files.createTempDirectory("graft-mbs-in").toString
    val outDir = Files.createTempDirectory("graft-mbs-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-mbs-ck").toString
    val base = "the quick brown fox jumps over the lazy dog near the river bank " * 4
    val other = "entirely different words about distributed query engines " * 4
    // lake = ids not divisible by 10; deltas = 0 (exact lake copy),
    // 10 (unique content)
    val rows = Seq((0L, base), (10L, other + " unique tail"),
      (1L, base), (2L, "zeta eta theta iota kappa lambda mu nu " * 4))
      .map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
    val df = rows.toDF("doc_id", "text", "lang", "source", "n_chars")
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    df.filter($"doc_id" % 10 === 0).write.mode(SaveMode.Append).parquet(inDir)
    val q = MultiblockSimhashStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    val got = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> (r.getAs[String]("status"),
        Option(r.getAs[Any]("dup_of")), Option(r.getAs[Any]("hamming")))).toMap
    // doc 0 is an exact copy of lake doc 1: hamming 0, recall-exact
    assert(got(0L) == (("near_dup_of_index", Some(1L), Some(0))), got.toString)
    // doc 10 shares no content with the lake
    assert(got(10L)._1 == "kept", got.toString)
    // double delivery of one batch id overwrites, never duplicates
    val outDir2 = Files.createTempDirectory("graft-mbs-out2").toString + "/out"
    val lakeFp = MultiblockSimhashStream.lakeFingerprints(spark, dir)
    val bits = operators.Dedup.mbDocBits(spark, dir)
    MultiblockSimhashStream.writeBatch(spark.read.parquet(inDir), lakeFp, bits, outDir2, 0L)
    MultiblockSimhashStream.writeBatch(spark.read.parquet(inDir), lakeFp, bits, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == 2)
  }

  // token-gradient corpus for the ClusterStream specs: X_k = 20
  // consecutive tokens of one long sequence; J(X_k, X_{k+d}) =
  // (18−d)/(18+d). d = 3 steps (J ≈ 0.71) BAND-COLLIDE with ≥ 11/16
  // matching minhashes (measured — d07 links need a full 4-hash band,
  // not just est_sim ≥ 0.5), while X0 vs X12 (J = 0.2) shares no band.
  private def xk(k: Int) = (k until k + 20).map(i => s"tk$i").mkString(" ")
  private def clsDocs(rows: Seq[(Long, String)]) =
    rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")

  test("cluster stream: deliveries fold into the stored d07 labeling, " +
      "cross-batch edges merge existing clusters") {
    import graft.streaming.ClusterStream
    // The chain X0–X3–X6–X9–X12 only closes once BOTH deliveries land:
    // X6–X9 arrive in ONE batch, X3–X6 straddles batches — the
    // within-batch, cross-batch and cluster-merge cases at once.
    val lakeDir = Files.createTempDirectory("graft-cls-lake").toString
    val store = Files.createTempDirectory("graft-cls-store").toString + "/st"
    val inDir = Files.createTempDirectory("graft-cls-in").toString
    val ckDir = Files.createTempDirectory("graft-cls-ck").toString
    val lake = Seq((1L, xk(0)), (2L, xk(0)), (3L, xk(12)), (4L, xk(12)),
      (5L, "completely unrelated standalone document body"))
    clsDocs(lake).write.mode(SaveMode.Overwrite)
      .parquet(s"$lakeDir/documents.parquet")
    ClusterStream.build(spark, lakeDir, store)
    // seed sanity: {1,2} and {3,4} are SEPARATE lake clusters
    val seed = ClusterStream.labels(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(seed(1L) == 1L && seed(2L) == 1L && seed(3L) == 3L &&
      seed(4L) == 3L && seed(5L) == 5L, seed.toString)
    val d1 = Seq((20L, xk(3)), (21L, "another lonely unrelated text piece"))
    val d2 = Seq((30L, xk(6)), (31L, xk(9)))
    clsDocs(d1).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    val q1 = ClusterStream.startFold(spark, inDir, store, ckDir)
    try q1.awaitTermination() finally q1.stop()
    clsDocs(d2).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    val q2 = ClusterStream.startFold(spark, inDir, store, ckDir)
    try q2.awaitTermination() finally q2.stop()
    // parity: the folded labeling equals batch d07 over lake ∪ both
    // deliveries
    val allDir = Files.createTempDirectory("graft-cls-all").toString
    clsDocs(lake ++ d1 ++ d2).write.mode(SaveMode.Overwrite)
      .parquet(s"$allDir/documents.parquet")
    val batch = operators.Dedup.dupClusters(spark, allDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    val folded = ClusterStream.labels(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(folded == batch, s"fold/batch diverged: fold=$folded batch=$batch")
    // and the interesting thing actually happened: the two lake
    // clusters MERGED with the chain docs into one component rooted
    // at doc 1 (guards the fixture against vacuous link luck)
    assert(Seq(1L, 2L, 3L, 4L, 20L, 30L, 31L).forall(batch(_) == 1L),
      batch.toString)
    assert(batch(21L) == 21L && batch(5L) == 5L, batch.toString)
    // double delivery of the last batch id is a fixpoint
    ClusterStream.foldBatch(clsDocs(d2), store, 1L)
    val again = ClusterStream.labels(spark, store).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(again == folded, "re-delivery moved the labeling")
  }

  test("cluster stream: folding deliveries persists no RDD and leaves " +
      "the session conf alone") {
    import graft.streaming.ClusterStream
    val lake = Seq((1L, xk(0)), (2L, xk(0)), (3L, xk(12)), (4L, xk(12)))
    val d1 = Seq((20L, xk(3)), (21L, "another lonely unrelated text piece"))
    val d2 = Seq((30L, xk(6)), (31L, xk(9)))
    val lakeDir = Files.createTempDirectory("graft-clsl-lake").toString
    val allDir = Files.createTempDirectory("graft-clsl-all").toString
    val store = Files.createTempDirectory("graft-clsl-store").toString + "/st"
    clsDocs(lake).write.parquet(s"$lakeDir/documents.parquet")
    clsDocs(lake ++ d1 ++ d2).write.parquet(s"$allDir/documents.parquet")
    ClusterStream.build(spark, lakeDir, store)
    // the first batch d07 caches its minhash memo; later runs add none
    operators.Dedup.dupClusters(spark, allDir).collect()
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    val conf = spark.conf.getAll
    ClusterStream.foldBatch(clsDocs(d1), store, 0L)
    ClusterStream.foldBatch(clsDocs(d2), store, 1L)
    ClusterStream.foldBatch(clsDocs(d2), store, 1L)
    operators.Dedup.dupClusters(spark, allDir).collect()
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted)
    assert(spark.conf.getAll == conf)
  }

  test("vector ingest stream: arriving vectors get the batch cell and codes") {
    import graft.streaming.VectorIngestStream
    val inDir = Files.createTempDirectory("graft-ving-in").toString
    val outDir = Files.createTempDirectory("graft-ving-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-ving-ck").toString
    // arriving = 6 lake vectors across two files (two batch groups);
    // parity with batch encoding is exact because assignment and
    // codes depend only on the STATIC artifacts, never on batching
    val delta = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 6)
    delta.filter($"vec_id" < 3).write.mode(SaveMode.Append).parquet(inDir)
    delta.filter($"vec_id" >= 3).write.mode(SaveMode.Append).parquet(inDir)
    val q = VectorIngestStream.startToParquet(spark, inDir, sf0001, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("cid"),
        r.getAs[Seq[Long]]("codes"))).toSet
    val streamed = asSet(spark.read.parquet(outDir)
      .select($"vec_id", $"cid".cast("int").as("cid"), $"codes"))
    val (cent, params) = VectorIngestStream.staticArtifacts(spark, sf0001)
    val batch = asSet(VectorIngestStream.encodeBatch(delta, cent, params)
      .select($"vec_id", $"cid".cast("int").as("cid"), $"codes"))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    assert(streamed.size == 6 && streamed.forall(_._3.length == 64))
    // double delivery of one batch id overwrites, never duplicates
    val outDir2 = Files.createTempDirectory("graft-ving-out2").toString + "/out"
    VectorIngestStream.writeBatch(delta, cent, params, outDir2, 0L)
    VectorIngestStream.writeBatch(delta, cent, params, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == 6)
  }

  test("DSIR stream: arriving docs score against the frozen lake model") {
    import graft.streaming.DsirStream
    val dir = Files.createTempDirectory("graft-dsir-lake").toString
    val inDir = Files.createTempDirectory("graft-dsir-in").toString
    val outDir = Files.createTempDirectory("graft-dsir-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-dsir-ck").toString
    val tgtText = (1 to 30).map(i => s"alpha${i % 5}").mkString(" ")
    val rawText = (1 to 30).map(i => s"zulu${i % 5}").mkString(" ")
    val oovText = (1 to 30).map(i => s"omega$i").mkString(" ")
    // lake (id % 10 != 0): 4 target docs + 4 raw docs with EQUAL
    // bigram totals (tt == tr, so a fully-OOV doc scores exactly 0);
    // deltas (id % 10 == 0): target-looking, background-looking, OOV
    val rows =
      (1L to 4L).map(i => (i, tgtText, "src0")) ++
      (11L to 14L).map(i => (i, rawText, "src3")) ++
      Seq((0L, tgtText, "src5"), (10L, rawText, "src5"), (20L, oovText, "src5"))
    val df = rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // deltas arrive as two files (two micro-batch groups)
    df.filter($"doc_id" % 10 === 0 && $"doc_id" < 20)
      .write.mode(SaveMode.Append).parquet(inDir)
    df.filter($"doc_id" % 10 === 0 && $"doc_id" >= 20)
      .write.mode(SaveMode.Append).parquet(inDir)
    val q = DsirStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("weight_units"), r.getAs[Boolean]("keep"))).toSet
    val streamed = asSet(spark.read.parquet(outDir))
    // parity: the stream equals the batch scorer under the same model
    val (bs, tot) = DsirStream.lakeModel(spark, dir)
    val batch = asSet(DsirStream.scoreBatch(
      spark.read.parquet(inDir), bs, tot))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    val byId = streamed.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    // target-looking delta upweighted, background-looking culled
    assert(byId(0L)._2 > 0 && byId(0L)._1 > 0, byId(0L).toString)
    assert(byId(10L)._2 < 0, byId(10L).toString)
    // fully-OOV delta is SCORED (not dropped by the model join), at
    // the smoothing floor: tt == tr by construction ⇒ exactly 0
    assert(byId(20L) == ((29L, 0L, false)), byId(20L).toString)
    assert(byId(0L)._2 > byId(20L)._2 && byId(20L)._2 > byId(10L)._2)
    // double delivery of one batch id overwrites, never duplicates
    val outDir2 = Files.createTempDirectory("graft-dsir-out2").toString + "/out"
    DsirStream.writeBatch(spark.read.parquet(inDir), bs, tot, outDir2, 0L)
    DsirStream.writeBatch(spark.read.parquet(inDir), bs, tot, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == 3)
  }

  test("drift stream: arriving deliveries scored against the frozen lake model") {
    import graft.streaming.DriftStream
    val dir = Files.createTempDirectory("graft-drift-lake").toString
    val inDir = Files.createTempDirectory("graft-drift-in").toString
    val outDir = Files.createTempDirectory("graft-drift-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-drift-ck").toString
    val lakeText = (1 to 40).map(i => s"alpha${i % 7}").mkString(" ")
    val oovText = (1 to 40).map(i => s"omega$i").mkString(" ")
    // lake (id % 10 != 0): two conforming sources sharing a vocabulary;
    // deltas (id % 10 == 0): a conforming src0 delivery and a broken
    // srcX delivery whose vocabulary the lake has NEVER seen
    val rows =
      (1L to 4L).map(i => (i, lakeText, "src0")) ++
      (11L to 14L).map(i => (i, lakeText, "src1")) ++
      Seq((0L, lakeText, "src0"), (10L, oovText, "srcX"))
    val df = rows.map { case (id, t, src) => (id, t, "en", src, t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // one delta file → one micro-batch (drift is a PER-DELIVERY stat)
    df.filter($"doc_id" % 10 === 0).coalesce(1)
      .write.mode(SaveMode.Append).parquet(inDir)
    val q = DriftStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("drift_units"), r.getAs[Long]("mean_centibits"))).toSet
    val streamed = asSet(spark.read.parquet(outDir))
    // parity: the stream equals the batch scorer under the same model
    val (all, ta) = DriftStream.lakeModel(spark, dir)
    val batch = asSet(DriftStream.scoreBatch(
      spark.read.parquet(inDir), all, ta))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    val byS = streamed.map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(byS.keySet == Set("src0", "srcX"))
    // the never-seen-vocabulary delivery fires the alarm: its buckets
    // probe kall = 0 (the left-join OOV seam) → maximal divergence
    assert(byS("srcX")._3 > byS("src0")._3,
      s"srcX ${byS("srcX")} vs src0 ${byS("src0")}")
    assert(byS("srcX")._2 > 0L)
    // double delivery of one batch id overwrites, never duplicates
    val outDir2 = Files.createTempDirectory("graft-drift-out2").toString + "/out"
    DriftStream.writeBatch(spark.read.parquet(inDir), all, ta, outDir2, 0L)
    DriftStream.writeBatch(spark.read.parquet(inDir), all, ta, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == 2)
  }

  test("percolate stream: standing queries match arriving docs, frozen stats") {
    import graft.streaming.PercolateStream
    val dir = Files.createTempDirectory("graft-perc-lake").toString
    val inDir = Files.createTempDirectory("graft-perc-in").toString
    val outDir = Files.createTempDirectory("graft-perc-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-perc-ck").toString
    // lake: docs carrying the standing vocab with varying df
    val lake = (0L until 20L).map { i =>
      val t = if (i % 2 == 0) "hash join spark pipeline words here"
              else "window agg stream other words here"
      (i, t, "en", "src0", t.length.toLong)
    }
    lake.toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // deltas: q1-matching doc / q2-matching doc / no standing term
    val delta = Seq(
      (100L, "hash hash join spark query", "en", "src5", 26L),
      (101L, "stream window agg burst", "en", "src5", 23L),
      (102L, "nothing relevant at all", "en", "src5", 23L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    delta.filter($"doc_id" < 102).write.mode(SaveMode.Append).parquet(inDir)
    delta.filter($"doc_id" === 102).write.mode(SaveMode.Append).parquet(inDir)
    val q = PercolateStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("qid"),
        r.getAs[Long]("score_milli"))).toSet
    val streamed = asSet(spark.read.parquet(outDir))
    // parity: the stream equals the batch scorer under the same stats
    val (dft, tot) = PercolateStream.lakeStats(spark, dir)
    val batch = asSet(PercolateStream.scoreBatch(
      spark.read.parquet(inDir), dft, tot))
    assert(streamed == batch, s"diverged: ${(batch -- streamed).take(3)}" +
      s" / ${(streamed -- batch).take(3)}")
    // percolation semantics: matched docs alert on their query only,
    // the no-term doc produces NO row at all
    val byDocQ = streamed.groupBy(_._1).map { case (d, s) =>
      d -> s.map(_._2) }
    assert(byDocQ(100L) == Set("q1") && byDocQ(101L) == Set("q2"))
    assert(!byDocQ.contains(102L))
    assert(streamed.forall(_._3 > 0L))
    // double delivery of one batch id overwrites, never duplicates
    val outDir2 = Files.createTempDirectory("graft-perc-out2").toString + "/out"
    PercolateStream.writeBatch(spark.read.parquet(inDir), dft, tot, outDir2, 0L)
    PercolateStream.writeBatch(spark.read.parquet(inDir), dft, tot, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == streamed.size)
  }

  test("BPE apply stream: frozen tokenizer, OOV falls back to merge rules") {
    import graft.streaming.BpeApplyStream
    val dir = Files.createTempDirectory("graft-bpes-lake").toString
    val inDir = Files.createTempDirectory("graft-bpes-in").toString
    val outDir = Files.createTempDirectory("graft-bpes-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-bpes-ck").toString
    // the BpeSpec hand corpus: learns (l,o) then (lo,w)
    Seq((0L, "low low low low low", "en", "src0", 19L),
      (1L, "lower lower", "en", "src0", 11L),
      (2L, "newest newest newest", "en", "src1", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // deltas: known words / an OOV word the merges still compress /
    // an OOV word no merge touches — two files, two batch groups
    val delta = Seq(
      (100L, "low low", "en", "src5", 7L),
      (101L, "lowest", "en", "src5", 6L),
      (102L, "zzz", "en", "src5", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    delta.filter($"doc_id" < 102).write.mode(SaveMode.Append).parquet(inDir)
    delta.filter($"doc_id" === 102).write.mode(SaveMode.Append).parquet(inDir)
    val q = BpeApplyStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_char_syms"), r.getAs[Long]("n_bpe_syms"),
        r.getAs[Long]("n_oov_tokens"))).toSet
    val streamed = asSet(spark.read.parquet(outDir))
    // parity: the stream equals the batch scorer under the same artifact
    val (memo, merges) = BpeApplyStream.frozenTokenizer(spark, dir)
    val all = spark.read.parquet(inDir)
    assert(streamed == asSet(BpeApplyStream.scoreBatch(all, memo, merges)))
    val byId = streamed.map(t => t._1 -> t).toMap
    // known words ride the memo: low×2 → 2 bpe syms, 0 OOV
    assert(byId(100L) == ((100L, 2L, 6L, 2L, 0L)), byId(100L).toString)
    // OOV "lowest": rules give [low,e,s,t] — compressed, counted OOV
    assert(byId(101L) == ((101L, 1L, 6L, 4L, 1L)), byId(101L).toString)
    // OOV "zzz": no merge applies — chars pass through
    assert(byId(102L) == ((102L, 1L, 3L, 3L, 1L)), byId(102L).toString)
    // the memo is PURE memoization: an empty memo (every word through
    // the rule fallback) changes nothing but cost
    val emptyMemo = Seq.empty[(String, Long)].toDF("word", "memo_syms")
    val viaRules = BpeApplyStream.scoreBatch(all, emptyMemo, merges).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bpe_syms"))).toSet
    assert(viaRules == streamed.map(t => (t._1, t._4)))
    // double delivery of one batch id overwrites, never duplicates
    val outDir2 = Files.createTempDirectory("graft-bpes-out2").toString + "/out"
    BpeApplyStream.writeBatch(all, memo, merges, outDir2, 0L)
    BpeApplyStream.writeBatch(all, memo, merges, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == 3)
  }

  test("DQ stream: per-delivery gate verdicts against the static dim") {
    import graft.streaming.DqStream
    val dir = Files.createTempDirectory("graft-dq-lake").toString
    val inDir = Files.createTempDirectory("graft-dq-in").toString
    val outDir = Files.createTempDirectory("graft-dq-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-dq-ck").toString
    (1L to 5L).map(k => (k, s"Customer#$k")).toDF("c_custkey", "c_name")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/customer.parquet")
    val t0 = new Timestamp(1704067200000L)
    def mkOrders(rows: Seq[(Long, Long, String, Double)]) =
      rows.map { case (k, c, st, p) => (k, c, st, p, t0, "1-URGENT") }
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
    // delivery A: clean; delivery B: dup orderkey + orphan custkey 99
    val clean = mkOrders(Seq(
      (1L, 1L, "O", 10.0), (2L, 2L, "F", 20.0), (3L, 3L, "P", 30.0)))
    val bad = mkOrders(Seq(
      (4L, 99L, "O", 40.0), (4L, 1L, "O", 44.0)))
    clean.coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    bad.coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    val q = DqStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    val out = spark.read.parquet(outDir)
      .selectExpr("CAST(batch_id AS BIGINT) AS batch_id", "check_name",
        "metric_bp", "passed").collect()
      .map(r => (r.getAs[Long]("batch_id"), r.getAs[String]("check_name")) ->
        ((r.getAs[Long]("metric_bp"), r.getAs[Boolean]("passed")))).toMap
    // one verdict set per delivery — maxFilesPerTrigger=1 keeps a
    // clean file from inheriting a bad file's verdict
    assert(out.size == 12, out.keys.toString)
    val byBatch = out.groupBy(_._1._1)
    val verdicts = byBatch.map { case (b, m) =>
      b -> m.map { case ((_, c), (_, p)) => c -> p } }
    val Seq(failing, passing) = verdicts.toSeq
      .sortBy(_._2.count(!_._2)).reverse.map(_._1)
    assert(verdicts(passing).forall(_._2), verdicts(passing).toString)
    val f = verdicts(failing)
    assert(!f("uniqueness_orderkey") && !f("ref_integrity_customer"), f.toString)
    assert(f("row_count") && f("completeness_custkey") &&
      f("accepted_status") && f("price_in_range"), f.toString)
    // the failing delivery's metrics are the hand-computed bp values
    val fm = out.collect { case ((b, c), (m, _)) if b == failing => c -> m }
    assert(fm("uniqueness_orderkey") == 5000L, fm.toString)   // 1 of 2 keys
    assert(fm("ref_integrity_customer") == 5000L, fm.toString) // 1 of 2 rows
    // parity: the stream rows equal the shared batch path per file
    val cust = DqStream.lakeDim(spark, dir)
    val batchClean = DqStream.scoreBatch(clean, cust).collect()
      .map(r => r.getAs[String]("check_name") ->
        ((r.getAs[Long]("metric_bp"), r.getAs[Boolean]("passed")))).toMap
    assert(batchClean == out.collect {
      case ((b, c), v) if b == passing => c -> v }.toMap)
    // double delivery of one batch id overwrites, never duplicates
    val outDir2 = Files.createTempDirectory("graft-dq-out2").toString + "/out"
    DqStream.writeBatch(bad, cust, outDir2, 0L)
    DqStream.writeBatch(bad, cust, outDir2, 0L)
    assert(spark.read.parquet(outDir2).count() == 6)
  }

  test("sketch stream: folded KMV + histogram equals batch r12, k-bounded state") {
    import graft.streaming.SketchStream
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-sk-lake").toString
    val inDir = Files.createTempDirectory("graft-sk-in").toString
    val stDir = Files.createTempDirectory("graft-sk-state").toString + "/state"
    val ckDir = Files.createTempDirectory("graft-sk-ck").toString
    val t0 = new Timestamp(1704067200000L)
    def mkOrders(rows: Seq[(Long, Long, String, Double)]) =
      rows.map { case (k, c, st, p) => (k, c, st, p, t0, "1-URGENT") }
        .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
          "o_orderdate", "o_orderpriority")
    // lake: 10 'O' customers (over k=4 -> estimate path), 2 'F'
    // customers (F stays under k across all deltas -> exact path);
    // the lake holds the global max price, so the frozen width
    // equals the batch width
    val lake = (1L to 10L).map(c => (c, c, "O", 10.0 + c)) ++
      Seq((20L, 1L, "F", 100.0), (21L, 2L, "F", 30.0))
    // deltas: overlapping + new customers, prices within the lake max
    val dA = Seq((30L, 4L, "O", 15.0), (31L, 11L, "O", 22.0),
      (32L, 4L, "F", 35.0))
    val dB = Seq((33L, 12L, "O", 50.0), (34L, 13L, "O", 60.0),
      (35L, 5L, "O", 45.0))
    mkOrders(lake).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/orders.parquet")
    mkOrders(dA).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    mkOrders(dB).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    val q = SketchStream.startFolding(spark, inDir, dir, stDir, ckDir, k = 4)
    try q.awaitTermination() finally q.stop()
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => r.getAs[String]("o_orderstatus") ->
        ((r.getAs[Long]("approx_customers"),
          r.getAs[Long]("approx_median_cents")))).toMap
    val folded = asMap(SketchStream.readStats(spark, stDir, k = 4))
    // parity: batch r12 (same k) over lake ∪ deltas
    val combined = Files.createTempDirectory("graft-sk-all").toString
    mkOrders(lake ++ dA ++ dB).write.mode(SaveMode.Overwrite)
      .parquet(s"$combined/orders.parquet")
    val batch = asMap(operators.Relational.approxStats(spark, combined, k = 4))
    assert(folded == batch, s"folded=$folded batch=$batch")
    // 'F' stays under k across all deltas: the exact-count path must
    // report the true distinct count (lake custkeys 1,2 + dA's 4)
    assert(folded("F")._1 == 3L, folded.toString)
    // k-bound: every delta holds at most k hashes per status however
    // many distinct customers a delivery carries
    val perDelta = spark.read.parquet(s"$stDir/kmv")
      .groupBy(col("delta_id"), col("st")).count().collect()
    assert(perDelta.nonEmpty && perDelta.forall(_.getAs[Long]("count") <= 4L),
      perDelta.mkString(","))
    // double delivery of one batch id replaces its partials
    val st2 = Files.createTempDirectory("graft-sk-state2").toString + "/state"
    SketchStream.seedFromLake(spark, dir, st2, k = 4)
    SketchStream.writeBatch(mkOrders(dA), st2, 0L, k = 4)
    val once = asMap(SketchStream.readStats(spark, st2, k = 4))
    SketchStream.writeBatch(mkOrders(dA), st2, 0L, k = 4)
    assert(asMap(SketchStream.readStats(spark, st2, k = 4)) == once)
  }

  test("overlap stream: folded KMV set algebra equals batch r37, exact below saturation") {
    import graft.streaming.OverlapStream
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-ov-lake").toString
    val inDir = Files.createTempDirectory("graft-ov-in").toString
    val stDir = Files.createTempDirectory("graft-ov-state").toString + "/state"
    val ckDir = Files.createTempDirectory("graft-ov-ck").toString
    val t0 = new Timestamp(1704067200000L)
    def mkEvents(rows: Seq[(Long, Long, String)]) =
      rows.map { case (id, u, t) => (id, t0, u, t, 0.0, "{}") }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    // lake: click {1,2,3}, view {2,3,4}; deltas add click {4},
    // buy {1}, view {5}, and a REPEAT click user 2 (min-merge dedup)
    val lake = Seq((1L, 1L, "click"), (2L, 2L, "click"), (3L, 3L, "click"),
      (4L, 2L, "view"), (5L, 3L, "view"), (6L, 4L, "view"))
    val dA = Seq((10L, 4L, "click"), (11L, 1L, "buy"))
    val dB = Seq((12L, 5L, "view"), (13L, 2L, "click"))
    mkEvents(lake).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/events.parquet")
    mkEvents(dA).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    mkEvents(dB).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    val q = OverlapStream.startFolding(spark, inDir, dir, stDir, ckDir, k = 8)
    try q.awaitTermination() finally q.stop()
    def asMap(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[String]("type_a"), r.getAs[String]("type_b")) ->
        ((r.getAs[Long]("est_overlap"), r.getAs[Long]("est_union"),
          r.getAs[Long]("jaccard_bp")))).toMap
    val folded = asMap(OverlapStream.readOverlap(spark, stDir, k = 8))
    // parity: batch r37 (same k) over lake ∪ deltas
    val combined = Files.createTempDirectory("graft-ov-all").toString
    mkEvents(lake ++ dA ++ dB).write.mode(SaveMode.Overwrite)
      .parquet(s"$combined/events.parquet")
    assert(folded ==
      asMap(operators.Relational.sketchOverlap(spark, combined, k = 8)))
    // k=8 keeps every sketch below saturation: the estimates are the
    // EXACT set sizes — hand-walk: click {1,2,3,4}, view {2,3,4,5},
    // buy {1} ⇒ overlaps 1 / 0 / 3, unions 4 / 5 / 5
    assert(folded(("buy", "click")) == ((1L, 4L, 2500L)), folded.toString)
    assert(folded(("buy", "view")) == ((0L, 5L, 0L)), folded.toString)
    assert(folded(("click", "view")) == ((3L, 5L, 6000L)), folded.toString)
    // saturated path still fold==batch (the parity is the contract)
    val st2 = Files.createTempDirectory("graft-ov-state2").toString + "/st"
    OverlapStream.seedFromLake(spark, dir, st2, k = 2)
    OverlapStream.writeBatch(mkEvents(dA), st2, 0L, k = 2)
    OverlapStream.writeBatch(mkEvents(dB), st2, 1L, k = 2)
    val sat = asMap(OverlapStream.readOverlap(spark, st2, k = 2))
    assert(sat ==
      asMap(operators.Relational.sketchOverlap(spark, combined, k = 2)))
    // per-delta state is k-bounded and re-delivery replaces
    val perDelta = spark.read.parquet(s"$st2/kmv")
      .groupBy(col("delta_id"), col("t")).count().collect()
    assert(perDelta.nonEmpty && perDelta.forall(_.getAs[Long]("count") <= 2L))
    OverlapStream.writeBatch(mkEvents(dA), st2, 0L, k = 2)
    assert(asMap(OverlapStream.readOverlap(spark, st2, k = 2)) == sat)
  }

  test("posting ingest stream: cap-merge eviction, df delta sum, batch parity") {
    import graft.streaming.PostingIngestStream
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-post-lake").toString
    val inDir = Files.createTempDirectory("graft-post-in").toString
    val outDir = Files.createTempDirectory("graft-post-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-post-ck").toString
    val idxDir = Files.createTempDirectory("graft-post-idx").toString + "/idx"
    def docs(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // lake: apple has postings (d1, tf 3), (d2, tf 2); cap=2 is full
    docs(Seq((1L, "apple apple apple banana"), (2L, "apple apple cherry")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // two delta deliveries: d10 out-ranks both apple postings; d11
    // re-ranks banana
    docs(Seq((10L, "apple apple apple apple apple kiwi")))
      .coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    docs(Seq((11L, "banana banana")))
      .coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    val q = PostingIngestStream.startFolding(spark, inDir, dir, outDir,
      ckDir, idxDir, cap = 2)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("df"),
        r.getAs[Int]("rn"), r.getAs[Long]("doc_id"), r.getAs[Long]("tf"))).toSet
    // parity: the folded index equals the batch build over lake ∪ deltas
    val combined = Files.createTempDirectory("graft-post-all").toString
    docs(Seq((1L, "apple apple apple banana"), (2L, "apple apple cherry"),
      (10L, "apple apple apple apple apple kiwi"), (11L, "banana banana")))
      .write.mode(SaveMode.Overwrite).parquet(s"$combined/documents.parquet")
    val allTerms = spark.read.parquet(s"$idxDir/postings")
      .select(col("term")).distinct()
    val folded = asSet(PostingIngestStream.readIndex(spark, idxDir, allTerms, 2))
    val batch = asSet(operators.Similarity.impactIndex(spark, combined, 2))
    assert(folded == batch, s"folded/batch diverged: " +
      s"missing=${(batch -- folded).take(3)} extra=${(folded -- batch).take(3)}")
    // read-side bucket pruning: a one-term probe carries a static tb
    // partition filter into the delta scan (the 100 TB probe-only-
    // touched-buckets layout is implemented, not aspirational)
    val probe = PostingIngestStream.readIndex(spark, idxDir,
      allTerms.filter(col("term") === "apple"), 2)
    val probePlan = probe.queryExecution.executedPlan.toString
    assert(probePlan.matches("(?s).*PartitionFilters: \\[[^\\]]*tb[^\\]]*\\].*"),
      s"no tb partition filter in probe plan:\n${probePlan.take(3000)}")
    // eviction: d2's apple posting fell out of the cap; df STILL
    // counts it (df rides its own delta family, not capped postings)
    val apple = folded.filter(_._1 == "apple")
    assert(apple.map(t => (t._3, t._4, t._5)) == Set((1, 10L, 5L), (2, 1L, 3L)),
      apple.toString)
    assert(apple.forall(_._2 == 3L), apple.toString)
    // published segments cover touched terms only — cherry never moved
    val published = spark.read.parquet(outDir)
    assert(published.filter(col("term") === "cherry").count() == 0)
    assert(published.filter(col("term") === "apple").count() > 0)
    // double delivery of one batch id replaces its deltas, never grows
    val idx2 = Files.createTempDirectory("graft-post-idx2").toString + "/idx"
    val out2 = Files.createTempDirectory("graft-post-out2").toString + "/out"
    val bA = docs(Seq((10L, "apple apple apple apple apple kiwi")))
    PostingIngestStream.writeBatchFold(bA, idx2, out2, 0L, cap = 2)
    PostingIngestStream.writeBatchFold(bA, idx2, out2, 0L, cap = 2)
    val t2 = spark.read.parquet(s"$idx2/postings").select(col("term")).distinct()
    val one = asSet(PostingIngestStream.readIndex(spark, idx2, t2, 2))
    assert(one == Set(("apple", 1L, 1, 10L, 5L), ("kiwi", 1L, 1, 10L, 1L)),
      one.toString)
    assert(spark.read.parquet(out2).count() == 2)
    // segment merge: every delta folds into one base; reads unchanged
    // (allTerms captured its file listing pre-swap — re-derive)
    PostingIngestStream.compact(spark, idxDir, 2)
    val termsAfter = spark.read.parquet(s"$idxDir/postings")
      .select(col("term")).distinct()
    assert(asSet(PostingIngestStream.readIndex(spark, idxDir, termsAfter, 2))
      == batch)
    val merged = spark.read.parquet(s"$idxDir/postings")
      .select(col("delta_id")).distinct().collect().map(_.getString(0)).toSet
    assert(merged == Set("base"), merged.toString)
  }

  test("concurrency stream: closed sessions fold to the exact r30 profile") {
    import graft.streaming.ConcurrencyStream
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-conc-lake").toString
    val inDir = Files.createTempDirectory("graft-conc-in").toString
    val outDir = Files.createTempDirectory("graft-conc-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-conc-ck").toString
    def ts(min: Long) = new Timestamp(1704067200000L + min * 60000L)
    val h0 = 1704067200L / 3600L
    // the r30 spec corpus: u1 two sessions (hours 0 and 3), u2 one
    // session spanning hours 0-1, u3 two sessions both hour 0
    val real = Seq(
      (1L, ts(10), 1L, "click", 0.0, "{}"), (2L, ts(20), 1L, "click", 0.0, "{}"),
      (3L, ts(190), 1L, "click", 0.0, "{}"),
      (4L, ts(50), 2L, "click", 0.0, "{}"), (5L, ts(80), 2L, "click", 0.0, "{}"),
      (6L, ts(0), 3L, "click", 0.0, "{}"), (7L, ts(40), 3L, "click", 0.0, "{}"))
    def toDf(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    toDf(real).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    // ONE call, no manual flush deliveries: the drain issues the
    // final watermark-advancing trigger itself (r10 verdict item 4).
    // The TRAILING SLASH pins the r12 advice fix: the sentinel dir is
    // derived from normalized Path components, so this must still
    // land heartbeats in the SIBLING dir (asserted below) instead of
    // a child inside inDir with a glob aimed at a nonexistent sibling
    // (which hangs processAllAvailable)
    ConcurrencyStream.drainToParquet(spark, inDir + "/", outDir, ckDir)
    val streamed = ConcurrencyStream.readProfile(spark, outDir).collect()
      .map(r => r.getAs[Long]("hour_id") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_users")))).toMap
    // batch r30 over ONLY the real events: the drain's sentinel
    // session never closes, so the profile must match WITHOUT any
    // hour filtering — the sentinel is invisible by construction
    toDf(real).write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    val batch = operators.Relational.concurrency(spark, dir).collect()
      .map(r => r.getAs[Long]("hour_id") ->
        ((r.getAs[Long]("n_sessions"), r.getAs[Long]("n_users")))).toMap
    assert(streamed == batch,
      s"stream/batch diverged: stream=$streamed batch=$batch")
    assert(streamed(h0) == ((4L, 3L)), streamed.toString) // the r30 hand-walk
    // the event dir is NEVER modified by the drain (r11 advice): the
    // heartbeats live in the sibling sentinel dir, so other consumers
    // of inDir (batch operators, a restarted stream) see real events
    // only
    assert(spark.read.schema(graft.streaming.EventStream.schema)
      .parquet(inDir).count() == real.size.toLong)
    assert(spark.read.schema(graft.streaming.EventStream.schema)
      .parquet(s"$inDir-drain")
      .filter(col("user_id") === ConcurrencyStream.DrainUser).count() == 2L)
    // double delivery of one batch id replaces its grains, never grows
    val out2 = Files.createTempDirectory("graft-conc-out2").toString + "/out"
    val sess = Seq((1L, ts(10), ts(70), 2L, 0.0))
      .toDF("user_id", "session_start", "session_end", "n_events",
        "session_value")
    ConcurrencyStream.writeBatch(sess, out2, 0L)
    ConcurrencyStream.writeBatch(sess, out2, 0L)
    val p2 = ConcurrencyStream.readProfile(spark, out2).collect()
    assert(p2.length == 2 && p2.forall(_.getAs[Long]("n_sessions") == 1L),
      p2.mkString(","))
    // polling BEFORE any batch lands (fresh dashboard on a fresh
    // stream) returns an empty profile, not an AnalysisException
    val fresh = Files.createTempDirectory("graft-conc-fresh").toString + "/none"
    assert(ConcurrencyStream.readProfile(spark, fresh).count() == 0L)
  }

  test("transition stream: cross-batch boundary pairs, summed matrix == batch r29") {
    import graft.streaming.TransitionStream
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-trans-lake").toString
    val inDir = Files.createTempDirectory("graft-trans-in").toString
    val outDir = Files.createTempDirectory("graft-trans-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-trans-ck").toString
    def ts(min: Long) = new Timestamp(1704067200000L + min * 60000L)
    // u1's chain STRADDLES the two file drops: view,click | purchase
    // u2 lives in one drop; u3 is a singleton (no pair ever)
    val fileA = Seq(
      (0L, ts(0), 1L, "view", 0.0, "{}"),
      (1L, ts(1), 1L, "click", 0.0, "{}"),
      (2L, ts(2), 2L, "view", 0.0, "{}"),
      (3L, ts(2), 2L, "error", 0.0, "{}")) // same-ts tie → event_id order
    val fileB = Seq(
      (4L, ts(9), 1L, "purchase", 0.0, "{}"),
      (5L, ts(9), 3L, "signup", 0.0, "{}"))
    def toDf(rows: Seq[(Long, Timestamp, Long, String, Double, String)]) =
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    toDf(fileA).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    toDf(fileB).coalesce(1).write.mode(SaveMode.Append).parquet(inDir)
    toDf(fileA ++ fileB).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/events.parquet")
    val q = TransitionStream.startToParquet(spark, inDir, outDir, ckDir,
      ttl = None)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[String]("from_type"), r.getAs[String]("to_type"),
        r.getAs[Long]("n"), r.getAs[Long]("prob_bp"))).toSet
    val streamed = asSet(TransitionStream.readMatrix(spark, outDir))
    val batch = asSet(operators.Relational.transitionMatrix(spark, dir))
    // the click→purchase pair exists ONLY via the carried state (its
    // two events are in different file drops)
    assert(streamed.exists(t => t._1 == "click" && t._2 == "purchase"),
      streamed.toString)
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    // double delivery of one batch id replaces its counts, never grows
    val out2 = Files.createTempDirectory("graft-trans-out2").toString + "/out"
    val pb = Seq(("view", "click"), ("view", "click"))
      .toDF("from_type", "to_type")
    TransitionStream.writeBatch(pb, out2, 0L)
    TransitionStream.writeBatch(pb, out2, 0L)
    val m2 = TransitionStream.readMatrix(spark, out2).collect()
    assert(m2.length == 1 && m2.head.getAs[Long]("n") == 2L, m2.mkString)
    // polling BEFORE any batch lands returns an empty matrix, not an
    // AnalysisException
    val fresh = Files.createTempDirectory("graft-trans-fresh").toString + "/none"
    assert(TransitionStream.readMatrix(spark, fresh).count() == 0L)
  }

  test("graph ingest stream: edge deltas recap to the frozen-band batch graph") {
    import graft.streaming.GraphIngestStream
    import org.apache.spark.sql.functions.col
    val dir = Files.createTempDirectory("graft-gr-lake").toString
    val inDir = Files.createTempDirectory("graft-gr-in").toString
    val outDir = Files.createTempDirectory("graft-gr-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-gr-ck").toString
    val idxDir = Files.createTempDirectory("graft-gr-idx").toString + "/idx"
    val all = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" < 70)
    // lake: 60 vectors; two 5-vector deliveries
    all.filter($"vec_id" >= 10).write.mode(SaveMode.Overwrite)
      .parquet(s"$dir/embeddings.parquet")
    all.filter($"vec_id" < 5).write.mode(SaveMode.Append).parquet(inDir)
    all.filter($"vec_id" >= 5 && $"vec_id" < 10)
      .write.mode(SaveMode.Append).parquet(inDir)
    val q = GraphIngestStream.startFolding(spark, inDir, dir, outDir,
      ckDir, idxDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("rn"),
        r.getAs[Long]("neighbor_id"), r.getAs[Long]("cos_bp"))).toSet
    // parity: the folded graph equals the batch build over
    // lake ∪ deltas under the SAME frozen (lake-priced) band layout
    val bands = GraphIngestStream.lakeBands(spark, dir)
    val folded = asSet(GraphIngestStream.readGraph(spark, idxDir))
    val batch = asSet(operators.Similarity.rankEdges(
      operators.Similarity.knnEdges(spark,
        all.select($"vec_id", $"embedding"), bands, 3)))
    assert(folded == batch, s"folded/batch diverged: " +
      s"missing=${(batch -- folded).take(3)} extra=${(folded -- batch).take(3)}")
    // the deltas changed the graph: some arriving vector has edges
    assert(folded.exists(_._1 < 10), folded.take(5).toString)
    // per-delta cap: every delta holds at most k edges per src
    val perDelta = spark.read.parquet(s"$idxDir/graph")
      .groupBy(col("delta_id"), col("vec_id")).count().collect()
    assert(perDelta.nonEmpty && perDelta.forall(_.getAs[Long]("count") <= 3L),
      perDelta.take(5).mkString(","))
    // seed-node probe prunes: a 2-node read carries a static vb
    // partition filter and returns exactly the full recap's rows
    val twoIds = folded.map(_._1).toSeq.sorted.take(2)
    val probe = GraphIngestStream.readGraph(spark, idxDir,
      srcIds = Some(twoIds.toDF("vec_id")))
    assert(asSet(probe) == folded.filter(t => twoIds.contains(t._1)))
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.matches("(?s).*PartitionFilters: \\[[^\\]]*vb[^\\]]*\\].*"),
      s"no vb partition filter:\n${plan.take(3000)}")
    // published segments: refreshed rows land per batch, only for
    // touched srcs (every published src has an endpoint candidate)
    val published = spark.read.parquet(outDir)
    assert(published.count() > 0)
    // double delivery of one batch id replaces its deltas, never grows
    val idx2 = Files.createTempDirectory("graft-gr-idx2").toString + "/idx"
    val out2 = Files.createTempDirectory("graft-gr-out2").toString + "/out"
    GraphIngestStream.seedFromLake(spark, dir, idx2)
    val bA = all.filter($"vec_id" < 5).select($"vec_id", $"embedding")
    GraphIngestStream.writeBatchFold(bA, idx2, out2, 0L, bands)
    val once = asSet(GraphIngestStream.readGraph(spark, idx2))
    val vecsOnce = spark.read.parquet(s"$idx2/gvecs").count()
    GraphIngestStream.writeBatchFold(bA, idx2, out2, 0L, bands)
    assert(asSet(GraphIngestStream.readGraph(spark, idx2)) == once)
    assert(spark.read.parquet(s"$idx2/gvecs").count() == vecsOnce)
    // segment merge: all three families fold to one base; reads
    // unchanged, and a LATER fold against the merged base stays exact
    // (an evicted edge can never resurface — competition only grows)
    GraphIngestStream.compact(spark, idxDir)
    assert(asSet(GraphIngestStream.readGraph(spark, idxDir)) == folded)
    val mergedDeltas = spark.read.parquet(s"$idxDir/graph")
      .select(col("delta_id")).distinct().collect().map(_.getString(0)).toSet
    assert(mergedDeltas == Set("base"), mergedDeltas.toString)
    val more = spark.read.parquet(s"$sf0001/embeddings.parquet")
      .filter($"vec_id" >= 70 && $"vec_id" < 75)
      .select($"vec_id", $"embedding")
    val out3 = Files.createTempDirectory("graft-gr-out3").toString + "/out"
    GraphIngestStream.writeBatchFold(more, idxDir, out3, 99L, bands)
    val batch2 = asSet(operators.Similarity.rankEdges(
      operators.Similarity.knnEdges(spark,
        spark.read.parquet(s"$sf0001/embeddings.parquet")
          .filter($"vec_id" < 75).select($"vec_id", $"embedding"),
        bands, 3)))
    assert(asSet(GraphIngestStream.readGraph(spark, idxDir)) == batch2,
      "post-compaction fold diverged from the frozen-band batch build")
  }

  test("streaming decontam twin: arriving vectors classify exactly like the t33 core") {
    import graft.streaming.DecontamStream
    val dir = Files.createTempDirectory("graft-sdc").toString
    val inDir = Files.createTempDirectory("graft-sdc-in").toString
    val outDir = Files.createTempDirectory("graft-sdc-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-sdc-ck").toString
    val dim = 16
    def mk(seed: Int): Array[Float] =
      Array.tabulate(dim)(i => math.sin(seed * 31.7 + i * 1.3).toFloat)
    // lake: 60 vectors; the benchmark split is ids 0 and 50
    (0 until 60).map(i => (i.toLong, mk(i)))
      .toDF("vec_id", "embedding")
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/embeddings.parquet")
    // arriving train vectors: two benchmark twins and one original,
    // delivered as two files (two micro-batch groups)
    val arriving = Seq((101L, mk(0)), (103L, mk(77)), (102L, mk(50)))
    arriving.take(2).toDF("vec_id", "embedding")
      .write.mode(SaveMode.Append).parquet(inDir)
    arriving.drop(2).toDF("vec_id", "embedding")
      .write.mode(SaveMode.Append).parquet(inDir)
    val q = DecontamStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[String]("status"),
        Option(r.getAs[Any]("dup_of")), Option(r.getAs[Any]("cos_bp")))).toSet
    val streamed = asSet(spark.read.parquet(outDir))
    // batch parity: the t33 core over ALL arriving vectors at once,
    // under the SAME frozen layout the stream closed over
    val bench = DecontamStream.benchFrame(spark, dir)
    val bands = DecontamStream.frozenBands(spark, dir)
    val batch = asSet(DecontamStream.classifyBatch(
      arriving.toDF("vec_id", "embedding"), bench, bands))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    val byId = streamed.map(t => t._1 -> ((t._2, t._3))).toMap
    assert(byId(101L) == (("benchmark_twin", Some(0L))))
    assert(byId(102L) == (("benchmark_twin", Some(50L))))
    assert(byId(103L)._1 == "kept")
    // replay with the same checkpoint: no re-delivery, no duplicates
    val q2 = DecontamStream.startToParquet(spark, inDir, dir, outDir, ckDir)
    try q2.awaitTermination() finally q2.stop()
    assert(spark.read.parquet(outDir).count() == 3)
    // at-least-once crash shape: same batch id delivered twice
    // overwrites its own partition instead of appending
    val outDir2 = Files.createTempDirectory("graft-sdc-out2").toString + "/out"
    DecontamStream.writeBatch(spark.read.parquet(inDir), bench, bands,
      outDir2, batchId = 0L)
    DecontamStream.writeBatch(spark.read.parquet(inDir), bench, bands,
      outDir2, batchId = 0L)
    assert(spark.read.parquet(outDir2).count() == 3)
  }

  test("bloom gate stream: seeded classify core equals batch d16") {
    import graft.streaming.BloomGateStream
    val bloomDir = Files.createTempDirectory("graft-bloom-idx").toString
    // rebuild d16's exact inputs: corpus ∪ plants, d10's lake/delta
    // split, m from n + 3 — the classify core must reproduce the
    // contract query row-for-row
    val docs = Tables.documents(spark, sf0001)
      .select($"doc_id", $"text")
      .union(spark.createDataFrame(operators.Dedup.bloomPlantRows)
        .toDF("doc_id", "text"))
    val m = operators.Dedup.bloomBits(docs.count())
    BloomGateStream.seed(docs.filter($"doc_id" % 10 =!= 0), bloomDir, m)
    assert(BloomGateStream.frozenM(spark, bloomDir) == m)
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_hit"),
        r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("exact_dup"),
        r.getAs[Boolean]("false_positive"))).toSet
    val streamed = asSet(BloomGateStream.classifyBatch(
      docs.filter($"doc_id" % 10 === 0),
      BloomGateStream.readBits(spark, bloomDir),
      BloomGateStream.readHashes(spark, bloomDir), m))
    val batch = asSet(operators.Dedup.bloomGate(spark, sf0001))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
  }

  test("bloom gate stream: folds bits across batches, catches a " +
      "cross-batch duplicate, idempotent under re-delivery") {
    import graft.streaming.BloomGateStream
    val dir = Files.createTempDirectory("graft-bloom").toString
    val inDir = Files.createTempDirectory("graft-bloom-in").toString
    val outDir = Files.createTempDirectory("graft-bloom-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-bloom-ck").toString
    val bloomDir = Files.createTempDirectory("graft-bloom-idx2").toString
    val a = "alpha beta gamma delta epsilon"
    val c = "fresh words never seen before anywhere"
    def asDocs(rows: Seq[(Long, String)]) =
      rows.map { case (id, t) => (id, t, "en", "s", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
    // the lake: two docs (ids 1, 2 — the %10 ≠ 0 slice)
    asDocs(Seq((1L, a), (2L, "some other lake content here")))
      .write.mode(SaveMode.Overwrite).parquet(s"$dir/documents.parquet")
    // batch 1 arrives: an exact lake copy + a new doc
    asDocs(Seq((10L, a), (20L, c)))
      .write.mode(SaveMode.Append).parquet(inDir)
    val q = BloomGateStream.startFolding(spark, inDir, dir, outDir, ckDir,
      bloomDir)
    try q.awaitTermination() finally q.stop()
    // batch 2 arrives LATER: a copy of batch 1's new doc — only the
    // FOLD can catch it (it is not in the lake) — plus a fresh one
    asDocs(Seq((30L, c), (40L, "yet another novel document text")))
      .write.mode(SaveMode.Append).parquet(inDir)
    val q2 = BloomGateStream.startFolding(spark, inDir, dir, outDir, ckDir,
      bloomDir)
    try q2.awaitTermination() finally q2.stop()
    val out = spark.read.parquet(outDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("exact_dup"),
          r.getAs[Boolean]("false_positive")))).toMap
    assert(out.size == 4, out.toString)
    assert(out(10L) == ((true, true, false)), out.toString)  // lake copy
    assert(out(30L) == ((true, true, false)), out.toString)  // folded copy
    assert(!out(20L)._2 && !out(40L)._2, out.toString)       // genuinely new
    // no false negatives ever: exact_dup ⇒ bloom_hit
    assert(out.values.forall(v => !v._2 || v._1))
    // at-least-once crash shape: the SAME batch id re-delivered —
    // classification excludes the batch's own folded delta, so even
    // after a partial fold the replayed output and store state are
    // identical (overwrite, union-idempotent fold)
    val m = BloomGateStream.frozenM(spark, bloomDir)
    val bitsBefore = BloomGateStream.readBits(spark, bloomDir).count()
    val outDir2 = Files.createTempDirectory("graft-bloom-out2").toString + "/out"
    val replay = asDocs(Seq((30L, c), (40L, "yet another novel document text")))
    BloomGateStream.writeBatchFold(replay, bloomDir, outDir2, batchId = 1L, m)
    val once = spark.read.parquet(outDir2).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq
    BloomGateStream.writeBatchFold(replay, bloomDir, outDir2, batchId = 1L, m)
    assert(spark.read.parquet(outDir2).collect()
      .map(_.getAs[Long]("doc_id")).sorted.toSeq == once)
    assert(BloomGateStream.readBits(spark, bloomDir).count() == bitsBefore)
    // a dashboard polling a PRE-SEED store gets empty typed frames,
    // never an AnalysisException (the BatchReads rule)
    val virgin = Files.createTempDirectory("graft-bloom-virgin").toString
    assert(BloomGateStream.readBits(spark, virgin).count() == 0L)
    assert(BloomGateStream.readHashes(spark, virgin).count() == 0L)
    // segment merge: set union is exact — reads unchanged, and a
    // post-compact fold still catches a duplicate of pre-compact
    // content (the store is one base delta afterwards)
    val hashesBefore = BloomGateStream.readHashes(spark, bloomDir)
      .collect().map(_.getString(0)).toSet
    BloomGateStream.compact(spark, bloomDir)
    assert(BloomGateStream.readBits(spark, bloomDir).count() == bitsBefore)
    assert(BloomGateStream.readHashes(spark, bloomDir)
      .collect().map(_.getString(0)).toSet == hashesBefore)
    val outDir3 = Files.createTempDirectory("graft-bloom-out3").toString + "/out"
    BloomGateStream.writeBatchFold(asDocs(Seq((50L, c))), bloomDir,
      outDir3, batchId = 7L, m)
    val post = spark.read.parquet(outDir3).collect()
      .map(r => (r.getAs[Boolean]("bloom_hit"), r.getAs[Boolean]("exact_dup")))
    assert(post.toSeq == Seq((true, true)), post.mkString(","))
  }

  test("volume stream: folded day grains re-derive batch r34 exactly; " +
      "re-delivery never double-counts") {
    import graft.streaming.VolumeStream
    val dir = Files.createTempDirectory("graft-vol").toString
    val inDir = Files.createTempDirectory("graft-vol-in").toString
    val outDir = Files.createTempDirectory("graft-vol-out").toString + "/out"
    val ckDir = Files.createTempDirectory("graft-vol-ck").toString
    def ts(day: Int, min: Int) = new Timestamp(
      1704067200000L + day * 86400000L + min * 60000L)
    val rows = Seq(
      (0L, ts(0, 1), 1L, "A", 1.0, "{}"), (1L, ts(0, 2), 2L, "A", 1.0, "{}"),
      (2L, ts(1, 1), 1L, "A", 1.0, "{}"),
      (3L, ts(2, 1), 1L, "A", 1.0, "{}"), (4L, ts(2, 2), 2L, "A", 1.0, "{}"),
      (5L, ts(2, 3), 3L, "A", 1.0, "{}"),
      (6L, ts(0, 5), 1L, "B", 1.0, "{}"), (7L, ts(0, 6), 2L, "B", 1.0, "{}"))
    val df = rows
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    df.write.mode(SaveMode.Overwrite).parquet(s"$dir/events.parquet")
    // pre-first-batch: empty typed report, no exception
    assert(VolumeStream.readReport(spark, outDir).count() == 0L)
    // the same day split ACROSS deliveries — the grains must merge
    df.filter($"event_id" < 4).write.mode(SaveMode.Append).parquet(inDir)
    df.filter($"event_id" >= 4).write.mode(SaveMode.Append).parquet(inDir)
    val q = VolumeStream.startToParquet(spark, inDir, outDir, ckDir)
    try q.awaitTermination() finally q.stop()
    def asSet(d: org.apache.spark.sql.DataFrame) = d.collect()
      .map(_.toSeq.map(String.valueOf)).toSet
    val streamed = asSet(VolumeStream.readReport(spark, outDir))
    val batch = asSet(operators.Relational.volumeAnomaly(spark, dir))
    assert(streamed == batch, s"stream/batch diverged: " +
      s"missing=${(batch -- streamed).take(2)} extra=${(streamed -- batch).take(2)}")
    assert(streamed.nonEmpty)
    // at-least-once: the same batch id re-delivered overwrites its
    // grain partition — the report is unchanged, never doubled
    val outDir2 = Files.createTempDirectory("graft-vol-out2").toString + "/out"
    VolumeStream.writeBatch(df.filter($"event_id" < 4), outDir2, batchId = 0L)
    VolumeStream.writeBatch(df.filter($"event_id" >= 4), outDir2, batchId = 1L)
    VolumeStream.writeBatch(df.filter($"event_id" >= 4), outDir2, batchId = 1L)
    assert(asSet(VolumeStream.readReport(spark, outDir2)) == batch)
  }
}
