package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{ArtifactCache, CostAccounting, GraftExtensions, SparkEntry, Tables, Tuning}
import graft.sources.kv.KvStore
import graft.streaming.EventStreams

/** The benchmark's JVM side. `perfbench/run.py` launches it once per run
  * and reads back `<run-dir>/result.json`; all statistics are computed
  * there. Modes:
  *
  *  - `run`: build the session, run the warm-up query and print the ready
  *    marker (run.py times the set-up up to it), then a cold pass and at
  *    least `--min-warm` warm passes over the family's queries, and more
  *    while they end within `--seconds`. With `--trace 1` warm passes
  *    alternate between untraced and traced (ABBA, at least `--min-warm` of
  *    each), and the traced ones record per-layer counters and spans.
  *  - `split-events`: write the fixture's events table as time-ordered
  *    files, the input of the stream family.
  *
  * Arguments are `--name value` pairs; each one a mode uses is required.
  *
  * Every query runs its whole result plan into Spark's `noop` sink (or,
  * for the stream family, into a memory sink), never `count()`, which
  * lets Catalyst prune the plan. Failures are caught with `NonFatal`
  * only; anything fatal halts the JVM with a non-zero exit.
  */
object Harness {

  val Families: Map[String, Seq[String]] = Map(
    "amplab" -> Seq("q1_filter_project", "q2_substr_agg", "q2b_join_agg",
      "q3_join_top1", "q_wordcount", "q_sort_global", "q_inlink_count",
      "q_mr_wordcount", "q_mr_substr_agg", "q_mr_q3", "q_mr_config",
      // the cheapest registry queries that reach the iterative operators
      // (connected components, one Observation per round) and an
      // ArtifactCache fit (the IVF-PQ index, fitted once per run)
      "q_entity_resolution", "q_ann_pq"),
    "stream" -> Seq("attr_history", "hourly_topk", "click_to_purchase"))

  /** The registry query whose oracle SQL checks each stream shape. */
  val StreamOracle: Map[String, String] = Map(
    "attr_history" -> "q_stream_scd", "hourly_topk" -> "q_stream_topk",
    "click_to_purchase" -> "q_stream_join")

  val ReadyMarker = "PERFBENCH_READY"
  val EventsSplitDir = "events_stream"

  /** The `--name value` arguments; reading one that was not given fails. */
  final case class Args(kv: Map[String, String]) {
    private def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def mode: String = need("mode")
    def family: String = need("family")
    def fixture: String = need("fixture")
    def runDir: String = need("run-dir")
    def cpus: Int = need("cpus").toInt
    def seed: Long = need("seed").toLong
    def seconds: Double = need("seconds").toDouble
    def trace: Boolean = need("trace") == "1"
    def minWarm: Int = need("min-warm").toInt
    def files: Int = need("files").toInt
  }

  def main(argv: Array[String]): Unit = {
    val a = Args(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    try {
      a.mode match {
        case "run" => run(a)
        case "split-events" => splitEvents(a)
        case m => sys.error(s"unknown mode $m")
      }
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        System.exit(2)
      case t: Throwable =>
        // a fatal error leaves the JVM in an undefined state: never record
        // a timing after one
        t.printStackTrace()
        Runtime.getRuntime.halt(3)
    }
    System.exit(0)
  }

  def session(a: Args): SparkSession = {
    val b = Tuning.withClusterDefaults(SparkSession.builder())
      .master(s"local[${a.cpus}]")
      .appName(s"perfbench-${a.family}")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.runDir}/local")
      .config("spark.sql.warehouse.dir", s"${a.runDir}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.runDir}/ckpt")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
    if (a.family == "stream") b.config(
      "spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val s = b.withExtensions(new GraftExtensions).getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Session build plus the warm-up query, then the ready marker with the
    * JVM's start-up, session and warm-up times in ms. The warm-up is small
    * on purpose: a parquet scan and an aggregate over the 25-row nation
    * table pay the first query's class loading and code generation. */
  def setUp(a: Args): SparkSession = {
    val jvmMs = ManagementFactory.getRuntimeMXBean.getUptime
    val t0 = System.nanoTime()
    val spark = session(a)
    val t1 = System.nanoTime()
    runAction(Tables.nation(spark, a.fixture).groupBy(col("n_regionkey")).count())
    val t2 = System.nanoTime()
    println(s"$ReadyMarker $jvmMs ${(t1 - t0) / 1e6} ${(t2 - t1) / 1e6}")
    System.out.flush()
    spark
  }

  /** The timed action: the query's whole result plan into the noop sink. */
  def runAction(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def nowMs: Double = System.currentTimeMillis().toDouble

  def run(a: Args): Unit = {
    val spark = setUp(a)
    val sc = spark.sparkContext
    val tracer = new Tracer
    val streamTracer = new StreamTracer
    val fits0 = ArtifactCache.coldFits
    var peakHeap = 0.0
    var costDrained = true
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]

    def onePass(idx: Int, traced: Boolean): Unit = {
      val kind = if (idx == 0) "cold" else "warm"
      // the cold pass also writes every result for the oracle check, with
      // the clock paused while it writes
      val check = idx == 0
      if (traced) {
        sc.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
        spark.streams.addListener(streamTracer)
      }
      val passSpan = tracer.newId()
      val start = nowMs
      val (p, cost) = CostAccounting.measure(spark) {
        if (a.family == "stream")
          streamPass(spark, a, idx, traced, check, tracer, streamTracer, passSpan)
        else batchPass(spark, a, idx, traced, check, tracer, passSpan)
      }
      if (traced) {
        ListenerBus.drain(sc, 10000)
        sc.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
        spark.streams.removeListener(streamTracer)
        tracer.addSpan(Span(passSpan, 0, s"pass.$kind", start, nowMs,
          Map("pass" -> idx)))
      }
      costDrained &&= cost.drained
      val heapMb = postGcHeapBytes() / 1048576.0
      peakHeap = math.max(peakHeap, heapMb)
      passes += p ++ Map("index" -> idx, "kind" -> kind, "traced" -> traced,
        "cost_usd" -> cost.totalUsd, "cost_drained" -> cost.drained,
        "heap_after_gc_mb" -> heapMb)
    }

    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    onePass(0, a.trace)
    var idx = 1
    var lastPassS = 0.0
    def warm(traced: Boolean) =
      passes.count(p => p("kind") == "warm" && p("traced") == traced)
    // at least minWarm warm passes (of each kind when tracing), then more
    // while another one still ends inside --seconds; the hard cap keeps a
    // run inside its time limit whatever the pass time
    def more: Boolean =
      warm(false) < a.minWarm || (a.trace && warm(true) < a.minWarm) ||
        elapsed + lastPassS <= a.seconds
    while (more && elapsed < 120) {
      val s = elapsed
      // untraced and traced warm passes in ABBA order, so warm-up still
      // going on in the first warm passes does not bias the overhead
      onePass(idx, a.trace && Set(2, 3)((idx - 1) % 4 + 1))
      lastPassS = elapsed - s
      idx += 1
    }
    val window = elapsed

    val scan = if (a.family == "amplab") Some(q1ScanColumns(spark, a)) else None
    // the oracle SQL beside the results, laid out as tools/check.py reads it
    val oracle = SparkEntry.oracleSqlFor(spark, a.fixture)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.createDirectories(Paths.get(a.runDir, "results"))
    json.writeValue(Paths.get(a.runDir, "results", "oracle_sql.json").toFile,
      Families(a.family).map(n => n -> oracle(StreamOracle.getOrElse(n, n))).toMap)
    val busDrained = ListenerBus.drain(sc, 10000)
    val result = Map(
      "family" -> a.family, "seed" -> a.seed, "cpus" -> a.cpus,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "fixture" -> a.fixture, "trace" -> a.trace, "window_s" -> window,
      "passes" -> passes, "cold_fits" -> (ArtifactCache.coldFits - fits0),
      "peak_heap_mb" -> peakHeap,
      "heap_limit_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_version" -> spark.version,
      "java_version" -> sys.props("java.version"),
      "listeners_drained" -> Map("cost" -> costDrained, "bus" -> busDrained,
        "stream" -> passes.forall(_.getOrElse("stream_drained", true) == true)),
      "q1_scan_columns" -> scan.orNull)
    json.writeValue(Paths.get(a.runDir, "result.json").toFile, result)
    if (a.trace) json.writeValue(Paths.get(a.runDir, "trace.json").toFile,
      Map("spans" -> tracer.spans.map(_.toMap)))
    spark.stop()
  }

  /** Heap in use right after a full collection, summed over the heap
    * pools as each pool's collector reports it. */
  private def postGcHeapBytes(): Long = {
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }

  private def order(a: Args, idx: Int): Seq[String] =
    new Random(a.seed * 1000003L + idx).shuffle(Families(a.family))

  /** Times `body` minus the time spent inside `paused` blocks. */
  final class Clock {
    private val t0 = System.nanoTime()
    private var pausedNs = 0L
    def paused[T](f: => T): T = {
      val s = System.nanoTime()
      try f finally pausedNs += System.nanoTime() - s
    }
    def ms: Double = (System.nanoTime() - t0 - pausedNs) / 1e6
  }

  def batchPass(spark: SparkSession, a: Args, idx: Int, traced: Boolean,
      check: Boolean, tracer: Tracer, passSpan: Long): Map[String, Any] = {
    val sc = spark.sparkContext
    val clock = new Clock
    val queries = order(a, idx).map { name =>
      val key = s"$name#$idx"
      val span = tracer.newId()
      if (traced) tracer.begin(key, span)
      sc.setLocalProperty(Tracer.QueryProperty, key)
      sc.setLocalProperty(Tracer.PhaseProperty, "build")
      val fits0 = ArtifactCache.coldFits
      val kvW = KvStore.writeOps
      val kvR = KvStore.readOps
      val startMs = nowMs
      val t0 = System.nanoTime()
      var buildNs = 0L
      var df: DataFrame = null
      val outcome: Either[String, Unit] =
        try {
          df = SparkEntry.queries(name)(spark, a.fixture)
          buildNs = System.nanoTime() - t0
          sc.setLocalProperty(Tracer.PhaseProperty, "action")
          runAction(df)
          Right(())
        } catch { case NonFatal(e) => Left(e.toString) }
      val totalNs = System.nanoTime() - t0
      val endMs = startMs + totalNs / 1e6
      sc.setLocalProperty(Tracer.QueryProperty, null)
      sc.setLocalProperty(Tracer.PhaseProperty, null)
      val layers = if (traced) clock.paused(traceQuery(sc, tracer, key, name,
        span, passSpan, startMs, endMs, buildNs)) else Map.empty
      val checked =
        if (check && outcome.isRight) clock.paused(writeResult(a, name, df))
        else outcome
      Map[String, Any]("name" -> name, "ok" -> checked.isRight,
        "error" -> checked.left.toOption.orNull,
        "build_ms" -> buildNs / 1e6, "total_ms" -> totalNs / 1e6,
        "cold_fits" -> (ArtifactCache.coldFits - fits0),
        "kv_writes" -> (KvStore.writeOps - kvW),
        "kv_reads" -> (KvStore.readOps - kvR)) ++ layers
    }
    Map("wall_ms" -> clock.ms, "queries" -> queries)
  }

  def streamPass(spark: SparkSession, a: Args, idx: Int, traced: Boolean,
      check: Boolean, tracer: Tracer, streamTracer: StreamTracer,
      passSpan: Long): Map[String, Any] = {
    import spark.implicits._
    val sc = spark.sparkContext
    val src = s"${a.fixture}/$EventsSplitDir"
    def stream(): DataFrame = EventStreams.readEventStream(
      spark, src, maxFilesPerTrigger = Some(1))
    def shape(name: String): (DataFrame, OutputMode) = name match {
      case "attr_history" => (EventStreams.attrHistory(
        stream().as[EventStreams.Event]).toDF(), OutputMode.Update())
      case "hourly_topk" =>
        (EventStreams.hourlyTopK(stream(), 3).toDF(), OutputMode.Update())
      case "click_to_purchase" => (EventStreams.clickToPurchase(
        stream().filter(col("event_type") === "click"),
        stream().filter(col("event_type") === "purchase"),
        withinMinutes = 60, watermark = "40 days"), OutputMode.Append())
    }
    val clock = new Clock
    var drainedAll = true
    val queries = order(a, idx).map { name =>
      val key = s"$name#$idx"
      val sink = s"perfbench_${name}_$idx"
      val ckpt = Paths.get(a.runDir, "ckpt", sink)
      val span = tracer.newId()
      if (traced) tracer.begin(key, span)
      sc.setLocalProperty(Tracer.QueryProperty, key)
      val startMs = nowMs
      val t0 = System.nanoTime()
      var buildNs = 0L
      var progress: Seq[StreamingQueryProgress] = Nil
      val outcome: Either[String, Unit] =
        try {
          val (df, mode) = shape(name)
          buildNs = System.nanoTime() - t0
          val q = df.writeStream.format("memory").queryName(sink)
            .outputMode(mode).trigger(Trigger.ProcessingTime(0))
            .option("checkpointLocation", ckpt.toString).start()
          try q.processAllAvailable() finally q.stop()
          progress = q.recentProgress.toSeq
          Right(())
        } catch { case NonFatal(e) => Left(e.toString) }
      val totalNs = System.nanoTime() - t0
      val endMs = startMs + totalNs / 1e6
      sc.setLocalProperty(Tracer.QueryProperty, null)
      val recent = progress.size
      clock.paused {
        val layers =
          if (!traced) Map.empty[String, Any]
          else {
            val l = traceQuery(sc, tracer, key, name, span, passSpan, startMs,
              endMs, buildNs)
            val drained = l("drained") == true &&
              streamTracer.isTerminated(sink) &&
              streamTracer.progressOf(sink).size == recent
            drainedAll &&= drained
            val events = streamTracer.progressOf(sink)
            events.foreach { e =>
              val p = e.progress
              val s = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
              val dur = Option(p.durationMs.get("triggerExecution"))
                .map(_.longValue).getOrElse(0L)
              tracer.addSpan(Span(tracer.newId(), span, "streaming.batch", s,
                s + dur, Map("batch_id" -> p.batchId, "rows" -> p.numInputRows)))
            }
            // per-layer figures come from the listener's progress events
            progress = events.map(_.progress)
            l ++ Map("drained" -> drained, "listener_batches" -> events.size,
              "query_batches" -> recent)
          }
        val checked =
          if (check && outcome.isRight)
            writeResult(a, name, assemble(name, spark.table(sink)))
          else outcome
        spark.catalog.dropTempView(sink)
        val ckptBytes = dirBytes(ckpt)
        deleteRecursively(ckpt)
        val batches = progress.map { p =>
          val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
          Map[String, Any]("rows" -> p.numInputRows,
            "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
            "query_planning_ms" -> d.getOrElse("queryPlanning", 0L),
            "get_batch_ms" -> d.getOrElse("getBatch", 0L),
            "add_batch_ms" -> d.getOrElse("addBatch", 0L),
            "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
            "state_commit_ms" -> p.stateOperators.map(_.commitTimeMs).sum,
            "state_bytes" -> p.stateOperators.map(_.memoryUsedBytes).sum)
        }
        Map[String, Any]("name" -> name, "ok" -> checked.isRight,
          "error" -> checked.left.toOption.orNull,
          "build_ms" -> buildNs / 1e6, "total_ms" -> totalNs / 1e6,
          "cold_fits" -> 0L, "kv_writes" -> 0L, "kv_reads" -> 0L,
          "batches" -> batches, "checkpoint_bytes" -> ckptBytes,
          "input_bytes" -> dirBytes(Paths.get(src))) ++ layers
      }
    }
    Map("wall_ms" -> clock.ms, "queries" -> queries,
      "stream_drained" -> drainedAll)
  }

  /** After a traced query: drain the listener bus so every event of the
    * query has been counted, stop attributing, and record its spans. */
  private def traceQuery(sc: org.apache.spark.SparkContext, tracer: Tracer,
      key: String, name: String, span: Long, passSpan: Long, startMs: Double,
      endMs: Double, buildNs: Long): Map[String, Any] = {
    val drained = ListenerBus.drain(sc, 10000)
    tracer.end()
    tracer.addSpan(Span(span, passSpan, s"query.$name", startMs, endMs))
    tracer.addSpan(Span(tracer.newId(), span, "queries.build", startMs,
      startMs + buildNs / 1e6))
    tracer.countersFor(key).toMap ++ Map("drained" -> drained,
      "start_ms" -> startMs, "end_ms" -> endMs)
  }

  /** Writes a result for the oracle check, outside the timed window. */
  private def writeResult(a: Args, name: String, df: DataFrame): Either[String, Unit] =
    try {
      df.write.mode("overwrite").parquet(s"${a.runDir}/results/$name")
      Right(())
    } catch { case NonFatal(e) => Left(e.toString) }

  /** The final answer of a stream shape from its memory sink, assembled the
    * way the registry's backfill queries assemble theirs, so their oracle
    * SQL applies. */
  private def assemble(name: String, sink: DataFrame): DataFrame = name match {
    case "attr_history" =>
      sink.groupBy(col("user_id"), col("version_no"))
        .agg(max(struct(col("valid_to").isNotNull.as("closed"),
          col("valid_to"), col("event_type"), col("valid_from"))).as("m"))
        .select(col("user_id"), col("m.event_type").as("event_type"),
          col("m.valid_from").as("valid_from"), col("m.valid_to").as("valid_to"),
          col("version_no"), col("m.valid_to").isNull.as("is_current"))
    case "hourly_topk" =>
      val last = sink.select(col("bucket").as("b2"), col("w_total").as("t2"))
        .groupBy(col("b2")).agg(max(col("t2")).as("t2"))
      sink.join(last, col("bucket") === col("b2") && col("w_total") === col("t2"))
        .select(col("bucket"), col("event_type"), col("n"))
    case "click_to_purchase" =>
      sink.select(col("click_id"), col("purchase_id"),
        col("c_user").as("user_id"), col("purchase_value"))
  }

  /** The columns `q1_filter_project`'s scan reads when run by the timed
    * action. `count()` would prune them to `l_quantity` alone. */
  private def q1ScanColumns(spark: SparkSession, a: Args): Seq[String] = {
    val seen = mutable.ArrayBuffer.empty[QueryExecution]
    val l = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        seen.synchronized { seen += qe }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try runAction(SparkEntry.queries("q1_filter_project")(spark, a.fixture))
    finally {
      ListenerBus.drain(spark.sparkContext, 10000)
      spark.listenerManager.unregister(l)
    }
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case ad: AdaptiveSparkPlanExec => scans(ad.executedPlan)
      case st: QueryStageExec => scans(st.plan)
      case other => other.children.flatMap(scans)
    }
    seen.synchronized(seen.toSeq).flatMap(qe => scans(qe.executedPlan))
      .flatMap(_.requiredSchema.fieldNames).distinct.sorted
  }

  /** Writes the fixture's events table as `--files` time-ordered parquet
    * files whose modification times increase with event time, so the file
    * stream source reads them in event-time order. */
  def splitEvents(a: Args): Unit = {
    val spark = session(a)
    val tmp = s"${a.fixture}/.tmp_$EventsSplitDir"
    Tables.events(spark, a.fixture)
      .repartitionByRange(a.files, col("ts"), col("event_id"))
      .write.mode("overwrite").parquet(tmp)
    val out = Paths.get(a.fixture, EventsSplitDir)
    deleteRecursively(out)
    Files.createDirectories(out)
    val parts = Files.list(Paths.get(tmp)).iterator.asScala
      .filter(p => p.getFileName.toString.startsWith("part-") &&
        p.getFileName.toString.endsWith(".parquet"))
      .toSeq.sortBy(_.getFileName.toString)
    val base = System.currentTimeMillis() - 3600L * 1000
    parts.zipWithIndex.foreach { case (p, i) =>
      val dest = out.resolve(f"events-$i%05d.parquet")
      Files.move(p, dest)
      Files.setLastModifiedTime(dest,
        java.nio.file.attribute.FileTime.fromMillis(base + i * 1000L))
    }
    deleteRecursively(Paths.get(tmp))
    spark.stop()
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  private def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder[Path]).iterator.asScala
        .foreach(Files.deleteIfExists(_))
      finally s.close()
    }
}
