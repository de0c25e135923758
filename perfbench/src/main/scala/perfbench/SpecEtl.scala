package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.config.{PipelineSpec, SchemaCatalog, TestdataCatalog, TopicConfig}
import graft.pipeline.Interpreter
import graft.sinks.{BatchSink, DirProvisioner, PipelineRunner}
import graft.sources.{ParquetSourceResolver, SourceResolver}

import perfbench.Stats.Tally

/** A resolver that times each call into the program's sources layer. */
final class BenchResolver(inner: SourceResolver, trace: Trace) extends SourceResolver {
  override def catalog: SchemaCatalog = inner.catalog
  override def dataDir: Option[String] = inner.dataDir
  override def stream(spark: SparkSession, topic: TopicConfig): DataFrame =
    trace.span("sources", "stream")(inner.stream(spark, topic))
  override def table(spark: SparkSession, topic: TopicConfig): DataFrame =
    trace.span("sources", "table")(inner.table(spark, topic))
  override def globalTable(spark: SparkSession, topic: TopicConfig): DataFrame =
    trace.span("sources", "globalTable")(inner.globalTable(spark, topic))
}

object Specs {
  def read(specDir: String, name: String): String =
    new String(Files.readAllBytes(Paths.get(specDir, name)), "UTF-8")

  def parse(trace: Trace, yaml: String): Seq[PipelineSpec] =
    trace.span("config", "listFromYaml")(PipelineSpec.listFromYaml(yaml))

  /** Median wall time of parsing `yaml`, for the traced config layer. */
  def parseMs(yaml: String, times: Int = 5): Double =
    Stats.median((1 to times).map { _ =>
      val t0 = Trace.nowMs(); PipelineSpec.listFromYaml(yaml); Trace.nowMs() - t0
    })

  /** Topics a spec reads: its source plus every enrichment topic. */
  def inputs(spec: PipelineSpec): Seq[String] =
    (spec.sourceTopic.name +: spec.joinOperations.map(_.enrichmentTopic.name)).distinct

  def build(ctx: Ctx, spec: PipelineSpec, resolver: SourceResolver): DataFrame =
    ctx.trace.span("pipeline", "build")(Interpreter.build(ctx.spark, spec, resolver))
}

/** spec_etl: the application.yml-shaped document run batch, one pass per
  * document execution, every topic written to a pass-scoped directory.
  */
final class SpecEtl(specDir: String) extends Harness.ClosedLoop {
  private val yaml = Specs.read(specDir, "spec_etl.yml")
  private var specs: Seq[PipelineSpec] = Nil
  private var dataDir = ""
  private var sizes = Map.empty[String, Long]

  override def stage(ctx: Ctx, dir: String): Unit = {
    sizes = Gen.relational(ctx.spark, dir, ctx.seed, customers = 1500, orders = 15000,
      events = 30000, users = 400)
    specs = Specs.parse(ctx.trace, yaml)
    dataDir = dir
  }

  private def outDir(ctx: Ctx, i: Int) = ctx.path(s"etl/pass$i")

  override def pass(ctx: Ctx, i: Int): Pass = {
    val resolver = new BenchResolver(new ParquetSourceResolver(dataDir, TestdataCatalog), ctx.trace)
    val out = outDir(ctx, i)
    val start = Trace.nowMs()
    val ops = specs.map { spec =>
      Harness.op(ctx, start, spec.id, Specs.inputs(spec).map(sizes).sum) {
        if (spec.branches.nonEmpty)
          ctx.trace.span("sinks", "runBatch")(
            PipelineRunner.runBatch(ctx.spark, spec, resolver, out))
        else {
          val df = Specs.build(ctx, spec, resolver)
          ctx.trace.span("sinks", "write")(
            BatchSink.write(df, spec.outputTopic.get, out, new DirProvisioner(out)))
        }
        true
      }
    }
    Pass(i, Trace.nowMs() - start, ops)
  }

  /** Every topic of every pass is checked: the last pass against the
    * oracle, every other pass against the last pass's multiset.
    */
  override def verify(ctx: Ctx, passes: Seq[Pass]): (Tally, Seq[Check]) = {
    val last = passes.last.index
    val checks = for {
      p <- passes
      (spec, op) <- specs.zip(p.ops) if op.ok
      topic <- spec.outputTopic.toSeq ++ spec.branches.map(_.outputTopic)
    } yield Check("kafka", topic.name, s"${outDir(ctx, p.index)}/${topic.name}/data",
      Map("data" -> dataDir, "op" -> s"${p.index}/${spec.id}",
        "reference" -> s"${outDir(ctx, last)}/${topic.name}/data"))
    (Tally.of(passes.flatMap(_.ops).map(_.ok)), checks)
  }

  override def layerMetrics(ctx: Ctx, passes: Seq[Pass]): Map[String, Double] = {
    val written = passes.map(p => Files.walk(Paths.get(outDir(ctx, p.index)))
      .filter(_.getFileName.toString.startsWith("part-")).count()).sum
    Map("config.parse_ms" -> Specs.parseMs(yaml),
      "sinks.files_written" -> written.toDouble / passes.size)
  }
}
