package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.graftbench.Bridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{Sessions, SparkEntry}
import graft.pipeline.InvoicePipeline
import graft.streaming.{BloomGateStream, ClusterStream, VolumeStream}

/** Spans and listener counts of the traced run; inert when off.
  *
  * A span is (id, parent, layer, name, start_s, end_s), recorded around
  * each call the harness makes into a layer. Listener counts are keyed
  * by the context `pass/op/phase` that was current when the event was
  * caused; the bus is drained at every phase boundary, so with one
  * client thread the attribution is exact.
  */
final class Trace(val on: Boolean) {
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[Seq[Any]]
  private var stack = List.empty[Int]
  @volatile private var ctx = "setup"
  val counts = mutable.LinkedHashMap.empty[String, mutable.LinkedHashMap[String, Double]]
  private var sc: SparkContext = _

  private def now = (System.nanoTime() - t0) / 1e9

  def add(c: String, k: String, v: Double): Unit = counts.synchronized {
    val m = counts.getOrElseUpdate(c, mutable.LinkedHashMap.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      val start = now
      spans += Seq(id, parent, layer, name, start, start)
      stack = id :: stack
      try f
      finally {
        stack = stack.tail
        spans(id) = Seq(id, parent, layer, name, start, now)
      }
    }

  /** Runs `f` with listener events, compile time and newly persisted
    * RDDs attributed to context `c`.
    */
  def phase[T](c: String)(f: => T): T =
    if (!on || sc == null) f
    else {
      Bridge.drain(sc)
      ctx = c
      sc.setJobGroup(c, c)
      val compile0 = CodeGenerator.compileTime
      val compiles0 = Bridge.compiles
      val rdds0 = sc.getPersistentRDDs.keySet
      try f
      finally {
        Bridge.drain(sc)
        add(c, "compile_ns", (CodeGenerator.compileTime - compile0).toDouble)
        add(c, "compiles", (Bridge.compiles - compiles0).toDouble)
        add(c, "persisted_rdds", (sc.getPersistentRDDs.keySet -- rdds0).size.toDouble)
        sc.clearJobGroup()
        ctx = "idle"
      }
    }

  def attach(spark: SparkSession): Unit = if (on) {
    sc = spark.sparkContext
    sc.addSparkListener(new SparkListener {
      private val stageCtx = new java.util.concurrent.ConcurrentHashMap[Int, String]()
      private def of(stage: Int) = stageCtx.getOrDefault(stage, ctx)
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val c = ctx
        add(c, "jobs", 1)
        e.stageIds.foreach(stageCtx.put(_, c))
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        add(of(e.stageInfo.stageId), "stages", 1)
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val c = of(e.stageId)
        add(c, "tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          add(c, "task_run_ms", m.executorRunTime.toDouble)
          add(c, "task_cpu_ns", m.executorCpuTime.toDouble)
          add(c, "gc_ms", m.jvmGCTime.toDouble)
          add(c, "sched_delay_ms", math.max(0L, e.taskInfo.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime).toDouble)
          add(c, "shuffle_read_b", (m.shuffleReadMetrics.remoteBytesRead +
            m.shuffleReadMetrics.localBytesRead).toDouble)
          add(c, "shuffle_write_b", m.shuffleWriteMetrics.bytesWritten.toDouble)
          add(c, "spill_b", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          add(c, "input_b", m.inputMetrics.bytesRead.toDouble)
          add(c, "output_b", m.outputMetrics.bytesWritten.toDouble)
          if (m.inputMetrics.bytesRead > 0) add(c, "scan_run_ms", m.executorRunTime.toDouble)
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        planPhases(ctx, qe)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  def planPhases(c: String, qe: QueryExecution): Unit = if (on) {
    val p = qe.tracker.phases
    Seq("analysis", "optimization", "planning").foreach { ph =>
      p.get(ph).foreach(s => add(c, s"${ph}_ms", s.durationMs.toDouble))
    }
  }
}

/** One benchmark run in a fresh JVM: set-up, a cold pass, a discarded
  * warm-up pass, then a fixed number of measured passes, all issued by
  * this one thread (a closed loop with one client). The counts never
  * depend on elapsed time. Writes a JSON record; the caller checks the
  * outputs and prints the metrics.
  *
  * Arguments are `key=value`: workload, work (the run's directory,
  * holding the generated inputs), lake, cores, trace (0|1), out.
  */
object Main {
  /** Measured passes per workload, after the cold and warm-up passes;
    * a stream_ingest pass is one delivery.
    */
  val Measured: Map[String, Int] = Map("etl_session" -> 2, "stream_ingest" -> 3)

  /** etl_session's lake queries: each runs in full to a noop sink. */
  val LakeQueries: Seq[String] = Seq(
    "c08_safe_split", "d07_dup_clusters", "d14_containment",
    "q33_top_suppliers", "r37_sketch_overlap")

  val NcTypes: Seq[String] = Seq("nc_item_c", "nc_invitation_to_bid",
    "nc_award_letter", "nc_bids_as_read", "nc_bid_tabs")

  private var attempted = 0
  private var failed = 0
  private val errors = mutable.ArrayBuffer.empty[String]
  private val extra = mutable.LinkedHashMap.empty[String, Any]

  /** Process CPU seconds per `pass/op`, JIT compiler threads included,
    * and JIT compile seconds per `pass/op/jit`: both fall from pass to
    * pass while the JVM is still warming up.
    */
  private val cpu = mutable.LinkedHashMap.empty[String, Double]
  private def cpuNs = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, secs(t0))
  }

  /** A fixed pure-JVM kernel (sort of 1M xorshift longs, median of
    * three): it does not touch the engine, so its drift is the host's.
    */
  def calibrate(): Double = {
    val a = new Array[Long](1 << 20)
    var x = 0x9E3779B97F4A7C15L
    val ts = (1 to 3).map { _ =>
      var i = 0
      while (i < a.length) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; a(i) = x; i += 1 }
      val t0 = System.nanoTime()
      java.util.Arrays.sort(a)
      secs(t0)
    }
    ts.sorted.apply(1)
  }

  def main(args: Array[String]): Unit = {
    val a = args.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val work = a("work")
    val lake = a("lake")
    val tr = new Trace(a("trace") == "1")
    val os = ManagementFactory.getOperatingSystemMXBean
    val load0 = os.getSystemLoadAverage
    val calibBefore = calibrate()

    // ---- set-up: main → ready
    val (spark, createS) = timed(tr.span("sessions", "Sessions.local")(Sessions.local(a("cores"))))
    tr.attach(spark)
    val (_, warmS) = timed(tr.span("sessions", "Sessions.warm")(Sessions.warm(spark, lake)))
    val storeS = if (workload != "stream_ingest") 0.0 else timed {
      tr.span("streaming", "BloomGateStream.seedFromLake")(
        BloomGateStream.seedFromLake(spark, lake, s"$work/store/bloom"))
      tr.span("streaming", "ClusterStream.build")(
        ClusterStream.build(spark, lake, s"$work/store/clusters"))
    }._2

    // ---- passes
    val ops: Seq[(String, String => Unit)] = workload match {
      case "etl_session" => etlOps(spark, tr, work) ++ lakeOps(spark, tr, lake, work)
      case "stream_ingest" => streamOps(spark, tr, lake, work)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val passNames = Seq("cold", "warmup") ++ (1 to Measured(workload)).map(i => s"m$i")
    val passes = passNames.zipWithIndex.map { case (pass, k) =>
      if (workload == "stream_ingest") land(work, k)
      tr.span("harness", s"pass.$pass") {
        pass -> ops.map { case (name, body) =>
          attempted += 1
          val t0 = System.nanoTime()
          val c0 = cpuNs
          val j0 = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
          val t = try { tr.span("harness", s"op.$name")(body(pass)); Some(secs(t0)) }
          catch { case e: Throwable =>
            failed += 1
            errors += s"$pass/$name: ${e.toString.take(400)}"
            None
          }
          cpu(s"$pass/$name") = (cpuNs - c0) / 1e9
          cpu(s"$pass/$name/jit") =
            (ManagementFactory.getCompilationMXBean.getTotalCompilationTime - j0) / 1e3
          name -> t
        }
      }
    }

    // ---- memory held after the measured passes
    // Spark's ContextCleaner frees blocks asynchronously once a GC has
    // cleared their references, so collect four times and keep the lowest
    val retainedMb = Iterator.continually {
      System.gc(); Thread.sleep(100)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
    }.take(4).min
    val cachedMb = spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6

    // ---- untimed probes of the traced run
    if (tr.on) workload match {
      case "etl_session" => etlProbes(spark, tr, work); lakeProbes(spark, tr, lake)
      case _ =>
    }
    val calibAfter = calibrate()

    val record = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "trace" -> tr.on,
      "env" -> Map(
        "cores" -> a("cores").toInt,
        "sys_cpus" -> Runtime.getRuntime.availableProcessors,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "load_avg" -> Seq(load0, os.getSystemLoadAverage)),
      "calib_s" -> Map("before" -> calibBefore, "after" -> calibAfter),
      "setup" -> Map("sessions.create_s" -> createS, "sessions.warm_s" -> warmS,
        "streaming.store_build_s" -> storeS),
      "passes" -> passes.map { case (p, ts) =>
        Map("pass" -> p, "ops" -> mutable.LinkedHashMap(ts: _*)) },
      "attempted" -> attempted, "failed" -> failed, "errors" -> errors.toSeq,
      "retained_mb" -> retainedMb, "cached_mb" -> cachedMb,
      "extra" -> extra, "cpu_s" -> cpu)
    if (tr.on) {
      record("spans") = tr.spans.toSeq
      record("counts") = tr.counts
    }
    Files.writeString(Paths.get(a("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
  }

  // ------------------------------------------- etl_session: lake queries

  def lakeOps(spark: SparkSession, tr: Trace, lake: String,
      work: String): Seq[(String, String => Unit)] = {
    extra("lake_queries") = LakeQueries
    extra("oracle_sql") = LakeQueries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)).toMap
    LakeQueries.map { q =>
      q -> ((pass: String) => {
        val df = tr.phase(s"$pass/$q/construct") {
          tr.span("operators", s"$q.construct")(SparkEntry.queries(q)(spark, lake))
        }
        tr.planPhases(s"$pass/$q/construct", df.queryExecution)
        tr.phase(s"$pass/$q/exec") {
          tr.span("exec", s"$q.execute") {
            // the discarded warm-up pass writes the output for the check
            if (pass == "warmup") df.write.mode("overwrite").parquet(s"$work/out/$q")
            else df.write.format("noop").mode("overwrite").save()
          }
        }
      })
    }
  }

  def lakeProbes(spark: SparkSession, tr: Trace, lake: String): Unit = {
    extra("count_s") = LakeQueries.map { q =>
      q -> tr.span("probe", s"$q.count")(timed(SparkEntry.queries(q)(spark, lake).count())._2)
    }.toMap
    extra("topk") = Seq("r03_topn_per_group", "t09_tfidf", "s01_ann_bruteforce").flatMap { q =>
      val df = SparkEntry.queries(q)(spark, lake)
      df.collect()
      graft.plans.PlanMetrics.topKPartialStats(df).map { case (in, out, _) => q -> Seq(in, out) }
    }.toMap
    import graft.operators.{Dedup, Similarity}
    val gens: Seq[(String, () => DataFrame)] = Seq(
      "d02" -> (() => Dedup.minhashLshCandidates(spark, lake)),
      "d03" -> (() => Dedup.simhashCandidates(spark, lake)),
      "d04" -> (() => Dedup.ngramJaccardCandidates(spark, lake)),
      "d05" -> (() => Dedup.embeddingDupCandidates(spark, lake)),
      "d06" -> (() => Dedup.fuzzyMatchCandidates(spark, lake)),
      "d13" -> (() => Dedup.multiblockSimhashCandidates(spark, lake)),
      "d14" -> (() => Dedup.containmentCandidates(spark, lake)),
      "s02" -> (() => Similarity.lshProbeCandidates(spark, lake)),
      "s03" -> (() => Similarity.ivfProbeCandidates(spark, lake)),
      "d18" -> (() => Dedup.incrementalClusterEdges(spark, lake)))
    extra("cand_pairs") = gens.map { case (k, mk) =>
      k -> tr.span("probe", s"$k.candidates")(mk().count())
    }.toMap
  }

  // ------------------------------------------- etl_session: the doc chain

  def etlOps(spark: SparkSession, tr: Trace,
      work: String): Seq[(String, String => Unit)] = {
    val root = s"$work/docs"
    val pub = s"$work/published"
    import InvoicePipeline.Analytics
    val analytics: Seq[(String, DataFrame => DataFrame)] = Seq(
      "a_docs_processed" -> (Analytics.docsProcessed _),
      "a_total_value" -> (Analytics.totalValue _),
      "a_top_suppliers" -> ((d: DataFrame) => Analytics.topSuppliers(d)),
      "a_common_products" -> ((d: DataFrame) => Analytics.commonProducts(d)),
      "a_monthly_trend" -> (Analytics.monthlyTrend _))
    def step(pass: String, name: String, layer: String)(f: => Unit): Unit =
      tr.phase(s"$pass/$name/run")(tr.span(layer, name)(f))
    Seq[(String, String => Unit)](
      "invoices" -> (pass => step(pass, "invoices", "pipeline") {
        InvoicePipeline.run(spark, root).write.mode("overwrite").parquet(s"$pub/invoices")
      }),
      "nc_docs" -> (pass => step(pass, "nc_docs", "pipeline") {
        InvoicePipeline.parseAllNcDocs(spark, root)
          .write.mode("overwrite").parquet(s"$pub/nc_docs")
      })) ++ analytics.map { case (name, q) =>
      name -> ((pass: String) => step(pass, name, "pipeline") {
        val rows = q(spark.read.parquet(s"$pub/invoices")).collect()
        extra(name) = rows.map(jsonRow).toSeq
      })
    }
  }

  private def jsonRow(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => d
    case l: Long => l
    case i: Int => i
    case null => null
    case x => String.valueOf(x)
  }

  def etlProbes(spark: SparkSession, tr: Trace, work: String): Unit = {
    val routed = InvoicePipeline.routeNcDocs(spark, s"$work/docs")
    extra("nc_type_s") = NcTypes.map { t =>
      t -> tr.span("operators", s"nc.$t")(timed(
        routed(t).write.format("noop").mode("overwrite").save())._2)
    }.toMap
  }

  // ----------------------------------------------------- stream_ingest

  /** Lands delivery `k` into the two stream source directories. */
  def land(work: String, k: Int): Unit =
    Seq("docs" -> "in_docs", "events" -> "in_events").foreach { case (f, dir) =>
      Files.createDirectories(Paths.get(s"$work/$dir"))
      Files.copy(Paths.get(s"$work/deliveries/d$k/$f.parquet"),
        Paths.get(f"$work/$dir/part-$k%05d.parquet"), StandardCopyOption.REPLACE_EXISTING)
    }

  def streamOps(spark: SparkSession, tr: Trace, lake: String,
      work: String): Seq[(String, String => Unit)] = {
    val progress = mutable.LinkedHashMap.empty[String, Seq[Double]]
    extra("stream_progress") = progress
    def drain(pass: String, name: String)(start: => StreamingQuery): Unit =
      tr.phase(s"$pass/$name/run") {
        tr.span("streaming", name) {
          val q = start
          q.awaitTermination()
          // (trigger ms, addBatch ms, input rows) summed over the run's batches
          val ps = q.recentProgress
          progress(s"$pass/$name") = Seq(
            ps.map(p => Option(p.durationMs.get("triggerExecution")).fold(0L)(_.longValue)).sum.toDouble,
            ps.map(p => Option(p.durationMs.get("addBatch")).fold(0L)(_.longValue)).sum.toDouble,
            ps.map(_.numInputRows).sum.toDouble)
        }
      }
    Seq[(String, String => Unit)](
      "bloom_fold" -> (pass => drain(pass, "bloom_fold")(BloomGateStream.startFolding(
        spark, s"$work/in_docs", lake, s"$work/gate", s"$work/ckpt/bloom",
        s"$work/store/bloom"))),
      "cluster_fold" -> (pass => drain(pass, "cluster_fold")(ClusterStream.startFold(
        spark, s"$work/in_docs", s"$work/store/clusters", s"$work/ckpt/clusters"))),
      "grain_fold" -> (pass => drain(pass, "grain_fold")(VolumeStream.startToParquet(
        spark, s"$work/in_events", s"$work/volume", s"$work/ckpt/volume"))),
      "report" -> (pass => tr.phase(s"$pass/report/run") {
        tr.span("streaming", "report")(VolumeStream.readReport(spark, s"$work/volume").collect())
      }))
  }
}
