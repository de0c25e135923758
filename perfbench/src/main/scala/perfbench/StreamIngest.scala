package perfbench

import java.sql.Timestamp
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types.{LongType, StringType, StructType}

import graft.config.{PipelineSpec, SchemaCatalog, TestdataCatalog, TopicConfig, TopicSchema}
import graft.pipeline.Interpreter
import graft.sources.{ParquetSourceResolver, SourceResolver}
import graft.streaming.StreamRunner

import perfbench.Stats.Tally

/** One generated event; top-level so its encoder is code-generated. */
final case class StreamEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

/** The topics of the stream workload: the events stream, the users table
  * and the enrichment's output topic.
  */
object StreamCatalog extends SchemaCatalog {
  override def get(topic: String): Option[TopicSchema] = topic match {
    case "users" => Some(TopicSchema(None, Seq("user_id"), Nil))
    case "events_enriched" => Some(TopicSchema(None, Seq("event_id"), Nil))
    case other => TestdataCatalog.get(other)
  }
}

/** The benchmark-owned resolver: `events` is the generator's memory
  * stream, `events_enriched` is the enrichment spec built over it, and
  * tables come from the staged parquet files.
  */
final class StreamResolver(dir: String, events: () => DataFrame, enrich: PipelineSpec,
    trace: Trace) extends SourceResolver {
  private val tables = new ParquetSourceResolver(dir, StreamCatalog)
  override def catalog: SchemaCatalog = StreamCatalog
  override def dataDir: Option[String] = Some(dir)
  override def stream(spark: SparkSession, topic: TopicConfig): DataFrame =
    trace.span("sources", "stream")(topic.name match {
      case "events" => events()
      case "events_enriched" => Interpreter.values(Interpreter.build(spark, enrich, this))
      case other => sys.error(s"no stream topic $other")
    })
  override def table(spark: SparkSession, topic: TopicConfig): DataFrame =
    trace.span("sources", "table")(tables.table(spark, topic))
}

/** stream_ingest: an open-loop generator feeds the query at a fixed rate
  * (latency is timed from each event's scheduled send time), then a closed
  * leg drains fixed backlogs (per-row throughput).
  */
object StreamIngest {
  val Users = 200
  val RatePerS = 1000
  val ChunkMs = 20
  val DrainEvents = 40000
  val Drains = 3
  /** Share of the run's seconds given to the drain leg; the rest is the
    * open loop.
    */
  val DrainShare = 0.35
  /** Micro-batches run before timing starts (the first ones compile). */
  val WarmBatches = 2
  /** Share of events whose event time lags their send time (up to 5 s,
    * inside the 30 s watermark, so the stream drops nothing).
    */
  val OutOfOrder = 0.1
  /** A generator whose p90 lateness exceeds this is not an open loop; the
    * leg's batches then count as failed.
    */
  val LateBoundMs = 50.0
  val Segments = Vector("gold", "silver", "bronze", "trial", "staff")

  final case class Sent(offset: Long, dueMs: Double, sentMs: Double, n: Int)

  /** Seeded event source: event i's user, type, value and event-time lag. */
  final class Events(seed: Long) {
    private val r = Gen.rng(seed, "stream")
    private var next = 0L
    val all = mutable.ArrayBuffer.empty[StreamEvent]
    def take(n: Int, eventTimeMs: Long): Seq[StreamEvent] = (0 until n).map { _ =>
      val lag = if (r.nextDouble() < OutOfOrder) r.nextInt(5000) else 0
      val e = StreamEvent(next, new Timestamp(Gen.Epoch + eventTimeMs - lag),
        Gen.skewedUser(r, Users), Gen.EventTypes(r.nextInt(Gen.EventTypes.size)),
        r.nextInt(100000) / 100.0)
      next += 1
      all += e
      e
    }
  }

  final class Leg(val spark: SparkSession, val query: StreamingQuery,
      val input: MemoryStream[StreamEvent], val events: Events, val dir: String) {
    var eventTimeMs = 0L
    def stop(): Unit = query.stop()
  }

  def stageUsers(spark: SparkSession, dir: String, seed: Long): Unit = {
    val r = Gen.rng(seed, "users")
    Gen.write(spark, (0 until Users).map(u =>
        org.apache.spark.sql.Row(u.toLong, Segments(r.nextInt(Segments.size)))),
      new StructType().add("user_id", LongType).add("segment", StringType),
      s"$dir/users.parquet", 1)
  }

  def specs(ctx: Ctx, specDir: String): Map[String, PipelineSpec] =
    Specs.parse(ctx.trace, Specs.read(specDir, "stream_ingest.yml")).map(s => s.id -> s).toMap

  /** Start the query over a fresh memory stream and push one warm chunk. */
  def start(ctx: Ctx, spark: SparkSession, specs: Map[String, PipelineSpec], dir: String,
      events: Events): Leg = {
    val input = MemoryStream[StreamEvent](spark, ctx.cores)(Encoders.product[StreamEvent])
    val resolver = new StreamResolver(dir, () => input.toDF(), specs("enrich-events"),
      ctx.trace)
    val query = ctx.trace.span("streaming", "startSpecSnapshot")(
      StreamRunner.startSpecSnapshot(spark, specs("segment-counts"), resolver, s"$dir/out"))
    val leg = new Leg(spark, query, input, events, dir)
    for (_ <- 1 to WarmBatches) {
      input.addData(events.take(RatePerS / 2, leg.eventTimeMs))
      leg.eventTimeMs += 500
      query.processAllAvailable()
    }
    leg
  }

  /** Feed the leg at the fixed rate for `seconds`; returns what was sent. */
  def openLoop(leg: Leg, seconds: Double): Seq[Sent] = {
    val perChunk = RatePerS * ChunkMs / 1000
    val sent = mutable.ArrayBuffer.empty[Sent]
    val t0Nanos = System.nanoTime() + 20000000L
    val t0Wall = System.currentTimeMillis() + 20.0
    val chunks = (seconds * 1000 / ChunkMs).toInt
    val gen = new Thread(() => {
      for (k <- 0 until chunks) {
        val dueNanos = t0Nanos + k.toLong * ChunkMs * 1000000L
        while (System.nanoTime() < dueNanos) LockSupport.parkNanos(dueNanos - System.nanoTime())
        val rows = leg.events.take(perChunk, leg.eventTimeMs + k.toLong * ChunkMs)
        val off = leg.input.addData(rows)
        sent += Sent(offsetOf(off.json()), t0Wall + k.toDouble * ChunkMs,
          t0Wall + (System.nanoTime() - t0Nanos) / 1e6, perChunk)
      }
    }, "perfbench-loadgen")
    gen.start()
    gen.join()
    leg.eventTimeMs += chunks.toLong * ChunkMs
    leg.query.processAllAvailable()
    sent.toSeq
  }

  /** Events per second to drain a backlog of `DrainEvents`: the median
    * over at least `Drains` backlogs, more while `seconds` last.
    */
  def drain(leg: Leg, seconds: Double): Double = {
    val t0 = Trace.nowMs()
    val eps = mutable.ArrayBuffer.empty[Double]
    while (eps.size < Drains || Trace.nowMs() - t0 < seconds * 1000) {
      val rows = leg.events.take(DrainEvents, leg.eventTimeMs)
      leg.eventTimeMs += 5000
      val t1 = Trace.nowMs()
      leg.input.addData(rows)
      leg.query.processAllAvailable()
      eps += DrainEvents / ((Trace.nowMs() - t1) / 1000)
    }
    Stats.median(eps.toSeq)
  }

  private def offsetOf(json: String): Long = json.trim.stripPrefix("\"").stripSuffix("\"").toLong

  private def endMs(p: StreamingQueryProgress): Double =
    java.time.Instant.parse(p.timestamp).toEpochMilli +
      p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)

  private def dataBatches(ps: Seq[StreamingQueryProgress]) = ps.filter(_.numInputRows > 0)

  /** Per-event latency (due time to the end of the first micro-batch whose
    * end offset covers the event), weighted by events.
    */
  def latencies(sent: Seq[Sent], ps: Seq[StreamingQueryProgress]): Seq[(Double, Long)] = {
    val batches = dataBatches(ps).map { p =>
      val s = p.sources.head
      (Option(s.startOffset).map(offsetOf).getOrElse(-1L), offsetOf(s.endOffset), endMs(p))
    }
    sent.flatMap { e =>
      batches.find { case (lo, hi, _) => e.offset > lo && e.offset <= hi }
        .map { case (_, _, done) => (done - e.dueMs, e.n.toLong) }
    }
  }

  /** The snapshot the stream maintained must equal the batch run of the
    * same spec over every event sent.
    */
  def matchesBatch(ctx: Ctx, leg: Leg, specs: Map[String, PipelineSpec]): Boolean = {
    val spark = leg.spark
    val all = spark.createDataFrame(leg.events.all.toSeq)
    val resolver = new StreamResolver(leg.dir, () => all, specs("enrich-events"), ctx.trace)
    def norm(df: DataFrame) = df.select(col(Interpreter.KeyCol).cast("string"),
        col("window_start"), col("count"), round(col("sum_value"), 6))
      .collect().map(_.toSeq).toSet
    val batch = norm(Interpreter.build(spark, specs("segment-counts"), resolver))
    val stream = norm(spark.read.parquet(s"${leg.dir}/out/segment-counts/snapshot"))
    if (batch != stream) Harness.log(s"stream state mismatch: ${(batch -- stream).take(3)} " +
      s"vs ${(stream -- batch).take(3)}")
    batch == stream
  }

  def run(ctx: Ctx, specDir: String, sessionReadyMs: Double): Result = {
    val stageMs = Harness.stagedMs(ctx)(stageUsers(ctx.spark, _, ctx.seed))
    val sp = specs(ctx, specDir)
    val t0 = Trace.nowMs()
    val leg = start(ctx, ctx.spark, sp, ctx.path(s"stage${Harness.Setups}"), new Events(ctx.seed))
    val warmMs = Trace.nowMs() - t0
    val setupS = ((sessionReadyMs - Harness.jvmStartMs) + stageMs + warmMs) / 1000
    Harness.sampleHeap()
    Harness.log(f"stream setup: session ${sessionReadyMs - Harness.jvmStartMs}%.0f ms, " +
      f"stage $stageMs%.0f ms, start+warm $warmMs%.0f ms")

    val openS = ctx.seconds * (1 - DrainShare)
    val before = leg.query.recentProgress.length
    // a traced run feeds an untraced half first; its batches give the
    // baseline of the tracing overhead
    val (sent, progress, plainP50) =
      if (!ctx.trace.enabled) {
        val s = openLoop(leg, openS)
        (s, leg.query.recentProgress.toSeq.drop(before), 0.0)
      } else {
        openLoop(leg, openS / 2)
        val mid = leg.query.recentProgress.length
        ctx.trace.attach(ctx.spark)
        val s = ctx.trace.span("streaming", "openLoop")(openLoop(leg, openS / 2))
        val ps = leg.query.recentProgress.toSeq
        (s, ps.drop(mid), Stats.median(dataBatches(ps.slice(before, mid)).map(batchMs)))
      }
    val drains = ctx.trace.span("streaming", "drain")(drain(leg, ctx.seconds * DrainShare))
    ctx.trace.drain()
    Harness.sampleHeap()
    val stateOk = matchesBatch(ctx, leg, sp)
    leg.stop()

    val lat = latencies(sent, progress)
    val late = sent.map(s => s.sentMs - s.dueMs)
    val lateP90 = Stats.percentile(late, 0.9)
    val batches = dataBatches(progress)
    val openOk = lateP90 <= LateBoundMs && lat.map(_._2).sum == sent.map(_.n.toLong).sum
    if (!openOk) Harness.log(f"open loop invalid: late p90 $lateP90%.1f ms")
    // the open loop's micro-batches, and the drain leg as one operation
    val attempted = batches.size + 1
    val failed = (if (stateOk) 0 else attempted) max (if (openOk) 0 else batches.size)
    val e2e = Map(
      "setup_s" -> setupS,
      "rows_per_s" -> drains,
      "job_s.p50" -> Stats.percentile(batches.map(batchMs(_) / 1000), 0.5),
      "job_s.p90" -> Stats.percentile(batches.map(batchMs(_) / 1000), 0.9),
      "latency_ms.p50" -> Stats.weightedPercentile(lat, 0.5),
      "latency_ms.p90" -> Stats.weightedPercentile(lat, 0.9),
      "heap_peak_mb" -> Harness.heapPeakMb)
    Harness.log(s"stream: ${batches.size} batches of " +
      batches.map(b => s"${b.numInputRows}/${batchMs(b)}ms").mkString(" "))

    val traced =
      if (!ctx.trace.enabled) Map.empty[String, Double]
      else streamingLayers(ctx, sent, progress, late) ++ Map(
        "stream.drain_eps_ncore" -> drains,
        "trace.overhead.job_s.p50_pct" -> 100 * (e2e("job_s.p50") * 1000 / plainP50 - 1),
        "stream.drain_eps_1core" -> singleCore(ctx, specDir))
    Result(e2e, traced, Tally(attempted, failed), Nil,
      Harness.samples(batches.size))
  }

  private def batchMs(p: StreamingQueryProgress): Double =
    p.durationMs.asScala.get("triggerExecution").map(_.toDouble).getOrElse(0.0)

  private def dur(p: StreamingQueryProgress, k: String): Double =
    p.durationMs.asScala.get(k).map(_.toDouble).getOrElse(0.0)

  def streamingLayers(ctx: Ctx, sent: Seq[Sent], ps: Seq[StreamingQueryProgress],
      late: Seq[Double]): Map[String, Double] = {
    val listened = ctx.trace.progress.toSeq
    val data = dataBatches(listened)
    def p50(f: StreamingQueryProgress => Double) =
      if (data.isEmpty) 0.0 else Stats.median(data.map(f))
    val state = data.flatMap(_.stateOperators.headOption)
    // events sent but not yet covered when each batch ended
    val backlog = dataBatches(ps).map { p =>
      val covered = offsetOf(p.sources.head.endOffset)
      sent.filter(s => s.offset > covered && s.sentMs <= endMs(p)).map(_.n).sum.toDouble
    }
    // the traced leg counts as one pass
    Layers.generic(ctx.trace, Seq(Pass(0, 0, Nil))) ++ Map(
      "streaming.batches" -> data.size.toDouble,
      "streaming.batch_ms.p50" -> p50(batchMs),
      "streaming.add_batch_ms.p50" -> p50(dur(_, "addBatch")),
      "streaming.planning_ms.p50" -> p50(dur(_, "queryPlanning")),
      "streaming.offset_commit_ms.p50" -> p50(p => dur(p, "walCommit") + dur(p, "commitOffsets")),
      "streaming.rows_per_batch.p50" -> p50(_.numInputRows.toDouble),
      "streaming.backlog_rows.max" -> (if (backlog.isEmpty) 0.0 else backlog.max),
      "state.rows" -> state.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "state.memory_bytes" -> state.lastOption.map(_.memoryUsedBytes.toDouble).getOrElse(0.0),
      "state.commit_ms.p50" -> (if (state.isEmpty) 0.0 else Stats.median(state.map(_.commitTimeMs.toDouble))),
      "loadgen.late_ms.p90" -> Stats.percentile(late, 0.9),
      "loadgen.sent_eps" -> sent.map(_.n).sum / ((sent.last.sentMs - sent.head.sentMs + ChunkMs) / 1000))
  }

  /** The drain leg again on a one-core session, beside the n-core value. */
  def singleCore(ctx: Ctx, specDir: String): Double = {
    ctx.trace.detach(ctx.spark)
    ctx.spark.stop()
    val spark = Main.session(1, ctx.runDir)
    val one = ctx.copy(spark = spark, cores = 1, trace = new Trace(false, spark.sparkContext))
    val dir = ctx.path("single-core")
    stageUsers(spark, dir, ctx.seed)
    val leg = start(one, spark, specs(one, specDir), dir, new Events(ctx.seed))
    try drain(leg, 0) finally leg.stop()
  }
}
