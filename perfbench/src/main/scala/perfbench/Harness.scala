package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import perfbench.Stats.Tally

final case class Ctx(spark: SparkSession, trace: Trace, runDir: String, seed: Long,
    seconds: Int, cores: Int) {
  def path(rel: String): String = s"$runDir/$rel"
}

/** One timed operation: a spec execution, a verb, a search or a
  * micro-batch. `rows` is the input rows it consumed and `doneMs` the
  * time, from its pass's start, at which its output was committed.
  */
final case class Op(name: String, wallMs: Double, rows: Long, doneMs: Double,
    ok: Boolean, span: Int)

final case class Pass(index: Int, wallMs: Double, ops: Seq[Op]) {
  def rows: Long = ops.map(_.rows).sum
}

/** An output the python checker compares against its DuckDB oracle after
  * the run. `kind` selects the comparison; `params` carry its inputs.
  */
final case class Check(kind: String, name: String, path: String,
    params: Map[String, String] = Map.empty)

final case class Result(e2e: Map[String, Double], layers: Map[String, Double],
    tally: Tally, checks: Seq[Check], info: Map[String, Double] = Map.empty)

object Harness {

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  val jvmStartMs: Double = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble

  /** Run `body` as one operation of a pass; a throw counts as a failure. */
  def op(ctx: Ctx, passStart: Double, name: String, rows: Long)(body: => Boolean): Op = {
    val t0 = Trace.nowMs()
    var span = Trace.NoSpan
    val ok = try ctx.trace.span("bench", name) {
      span = ctx.trace.currentSpanId
      body
    } catch {
      case e: Throwable if !e.isInstanceOf[VirtualMachineError] =>
        log(s"$name failed: $e")
        false
    }
    val t1 = Trace.nowMs()
    Op(name, t1 - t0, rows, t1 - passStart, ok, span)
  }

  /** Old-generation occupancy after the last collection, in MB. */
  def oldGenAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed.toDouble / (1 << 20))
      .sum

  /** Peak old-generation occupancy seen after a full collection; sampled
    * only between timed regions.
    */
  private var heapPeak = 0.0
  def sampleHeap(): Unit = {
    System.gc()
    System.gc()
    heapPeak = math.max(heapPeak, oldGenAfterGcMb())
  }
  def heapPeakMb: Double = heapPeak

  /** A closed-loop workload: set up `Setups` times, one warm pass, then
    * passes until the run's seconds are spent.
    */
  trait ClosedLoop {
    /** Stage inputs and any stored artifacts under `dir`. */
    def stage(ctx: Ctx, dir: String): Unit
    /** One pass over the workload's operations; `i` numbers the pass. */
    def pass(ctx: Ctx, i: Int): Pass
    /** Check every pass's outputs (outside any timed region). */
    def verify(ctx: Ctx, passes: Seq[Pass]): (Tally, Seq[Check])
    /** Workload-specific per-layer metrics of the traced passes. */
    def layerMetrics(ctx: Ctx, passes: Seq[Pass]): Map[String, Double] = Map.empty
    /** Untimed passes after set-up: enough that the timed passes run on
      * compiled code, not on the JIT's first tiers.
      */
    def warmPasses: Int = 1
    /** Passes per block of a traced run's alternating untraced and traced
      * blocks (a whole cycle of the workload's periodic operations).
      */
    def tracedPasses: Int = 1
  }

  /** Set-ups timed per run; the median counts, so one slow set-up (the
    * first, which also warms the JVM) does not decide `setup_s`.
    */
  val Setups = 3

  /** Median time of `stage` on `Setups` fresh directories `stage1`...;
    * the last one stays in use.
    */
  def stagedMs(ctx: Ctx)(stage: String => Unit): Double =
    Stats.median((1 to Setups).map { k =>
      val t0 = Trace.nowMs()
      stage(ctx.path(s"stage$k"))
      val t = Trace.nowMs() - t0
      log(f"stage $k: $t%.0f ms")
      t
    })

  def runClosedLoop(ctx: Ctx, w: ClosedLoop, sessionReadyMs: Double): Result = {
    val stageMs = stagedMs(ctx)(w.stage(ctx, _))
    var passes = 0
    def next(): Pass = { passes += 1; w.pass(ctx, passes - 1) }
    val t0 = Trace.nowMs()
    val warm = (1 to w.warmPasses).map(_ => next())
    val warmMs = Trace.nowMs() - t0
    log(f"session ${sessionReadyMs - jvmStartMs}%.0f ms, warm $warmMs%.0f ms: " +
      warm.map(_.ops.map(o => f"${o.name}=${o.wallMs}%.0f").mkString(" ")).mkString(" | "))
    val setupS = ((sessionReadyMs - jvmStartMs) + stageMs + warmMs) / 1000
    sampleHeap()

    // passes run while one more of average length still ends near the
    // deadline, so a run measures about `seconds` whatever the pass length
    def loop(seconds: Double): Seq[Pass] = {
      val t0 = Trace.nowMs()
      val out = scala.collection.mutable.ArrayBuffer.empty[Pass]
      def more = out.isEmpty || Trace.nowMs() - t0 +
        out.map(_.wallMs).sum / out.size <= seconds * 1000 * 1.1
      while (more) {
        val p = next()
        log(f"pass ${p.index}: ${p.wallMs}%.0f ms " + p.ops.map(o => f"${o.name}=${o.wallMs}%.0f").mkString(" "))
        out += p
      }
      out.toSeq
    }

    if (!ctx.trace.enabled) {
      val timed = loop(ctx.seconds)
      sampleHeap()
      val (tally, checks) = w.verify(ctx, warm ++ timed)
      Result(endToEnd(timed, setupS), Map.empty, tally, checks,
        Map("passes" -> timed.size.toDouble) ++ samples(timed.flatMap(_.ops).size))
    } else {
      // blocks of untraced and traced passes alternate, so the tracing
      // overhead is measured on passes equally far into the run
      val plain, traced = scala.collection.mutable.ArrayBuffer.empty[Pass]
      val t0 = Trace.nowMs()
      def more = traced.isEmpty ||
        Trace.nowMs() - t0 + (plain ++ traced).map(_.wallMs).sum / (plain.size + traced.size) <=
          ctx.seconds * 1000 * 1.1
      while (more) {
        for (_ <- 1 to w.tracedPasses) plain += next()
        ctx.trace.attach(ctx.spark)
        for (_ <- 1 to w.tracedPasses) traced += next()
        ctx.trace.detach(ctx.spark)
      }
      sampleHeap()
      val (tally, checks) = w.verify(ctx, (warm ++ plain ++ traced).sortBy(_.index))
      val e2eTraced = endToEnd(traced.toSeq, setupS)
      val layers = Layers.generic(ctx.trace, traced.toSeq) ++
        w.layerMetrics(ctx, traced.toSeq) ++ overhead(endToEnd(plain.toSeq, setupS), e2eTraced)
      Result(e2eTraced, layers, tally, checks)
    }
  }

  /** How many operation times the percentiles rest on, and how many lie
    * beyond the p90 (ten or more make it a supported tail).
    */
  def samples(n: Int): Map[String, Double] =
    Map("job_s.samples" -> n.toDouble, "job_s.p90_beyond" -> Stats.beyond(n, 0.9).toDouble)

  def overhead(plain: Map[String, Double], traced: Map[String, Double]): Map[String, Double] =
    Map("trace.overhead.job_s.p50_pct" ->
      100 * (traced("job_s.p50") / plain("job_s.p50") - 1))

  /** End-to-end metrics of a closed loop. Every row a pass consumes is due
    * at the pass's start and is served when the operation consuming it
    * commits.
    */
  def endToEnd(passes: Seq[Pass], setupS: Double): Map[String, Double] = {
    val ops = passes.flatMap(_.ops)
    val walls = ops.map(_.wallMs / 1000)
    val lat = ops.map(o => (o.doneMs, o.rows))
    Map(
      "setup_s" -> setupS,
      "rows_per_s" -> Stats.median(passes.map(p => p.rows / (p.wallMs / 1000))),
      "job_s.p50" -> Stats.percentile(walls, 0.5),
      "job_s.p90" -> Stats.percentile(walls, 0.9),
      "latency_ms.p50" -> Stats.weightedPercentile(lat, 0.5),
      "latency_ms.p90" -> Stats.weightedPercentile(lat, 0.9),
      "heap_peak_mb" -> heapPeakMb)
  }
}
