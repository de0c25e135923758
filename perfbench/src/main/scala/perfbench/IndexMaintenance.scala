package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.IntegerType

import graft.config.TestdataCatalog
import graft.pipeline.Interpreter
import graft.sinks.{BatchSink, DirProvisioner}
import graft.sources.ParquetSourceResolver

import perfbench.Stats.Tally

/** index_maintenance: the daily maintenance cycle over seeded batches.
  * Set-up builds the ANN index and the shingle history once; each cycle
  * appends, searches, deletes, screens, publishes and retracts, and every
  * `CompactEvery`-th cycle folds the index. One pass is one cycle, so
  * with `CompactEvery` = 1 every pass does the same work and the median
  * over passes is not split between cycles with and without a fold.
  */
final class IndexMaintenance(specDir: String) extends Harness.ClosedLoop {
  import IndexMaintenance._

  private val template = Specs.read(specDir, "index_maintenance.yml")
  private var dataDir = ""
  private def yaml(cycle: Int) = template.replace("${INDEX}", s"$dataDir/index")
    .replace("${HISTORY}", s"$dataDir/history").replace("${CYCLE}", cycle.toString)

  private def withCycle(rows: Seq[Row], cycle: Int) = rows.map(r => Row.fromSeq(r.toSeq :+ cycle))

  override def stage(ctx: Ctx, dir: String): Unit = {
    val spark = ctx.spark
    val r = Gen.rng(ctx.seed, "index")
    val space = Gen.vectorSpace(r, 24)
    val cyc = Gen.VecSchema.add("cycle", IntegerType)
    Gen.write(spark, Gen.vectorRows(r, space, (0L until BaseVectors).toSeq), Gen.VecSchema,
      s"$dir/embeddings.parquet")
    Gen.write(spark, (0 until MaxCycles).flatMap(c => withCycle(Gen.vectorRows(r, space,
      (0 until Append).map(j => BaseVectors + c * Append + j)), c)), cyc,
      s"$dir/vec_batches.parquet")
    Gen.write(spark, (0 until MaxCycles).flatMap(c => withCycle(Gen.vectorRows(r, space,
      (0 until Queries).map(j => QueryBase + c * Queries + j)), c)), cyc,
      s"$dir/queries.parquet", 1)
    val vecIds = shuffled(r, BaseVectors)
    Gen.write(spark, (0 until MaxCycles).flatMap(c => (0 until Delete).map(j =>
      Row(vecIds(c * Delete + j), c))), IdsSchema("vec_id"), s"$dir/vec_deletes.parquet", 1)

    val vocab = Gen.vocabulary(r, 3000)
    val history = Gen.documents(r, vocab, (0L until BaseDocs).toSeq, DupShare)
    Gen.writeDocs(spark, history, s"$dir/documents.parquet")
    val batches = (0 until MaxCycles).flatMap { c =>
      Gen.documents(r, vocab, (0 until Batch).map(j => BaseDocs + c * Batch + j),
        BatchDupShare, pool = history).map(d => (d, c))
    }
    Gen.write(spark, batches.map { case (d, c) =>
      Row(d.id, d.text, d.lang, d.source, d.text.length.toLong, c) },
      Gen.DocSchema.add("cycle", IntegerType), s"$dir/doc_batches.parquet")
    val docIds = shuffled(r, BaseDocs)
    Gen.write(spark, (0 until MaxCycles).flatMap(c => (0 until Retract).map(j =>
      Row(docIds(c * Retract + j), c))), IdsSchema("doc_id"), s"$dir/doc_retracts.parquet", 1)

    dataDir = dir
    val specs = Specs.parse(ctx.trace, yaml(0)).map(s => s.id -> s).toMap
    val resolver = new ParquetSourceResolver(dir, TestdataCatalog)
    Interpreter.build(spark, specs("build-index"), resolver).collect()
    Interpreter.values(Interpreter.build(spark, specs("build-history"), resolver))
      .write.parquet(s"$dir/history")
  }

  private def shuffled(r: java.util.SplittableRandom, n: Long): IndexedSeq[Long] = {
    val a = (0L until n).toArray
    for (i <- a.indices.reverse) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toIndexedSeq
  }

  private def out(ctx: Ctx, kind: String, cycle: Int) = ctx.path(s"maint/$kind/cycle$cycle")

  /** Verbs whose one-row report must carry the batch size in `column`. */
  private def report(df: DataFrame, column: String, expected: Long): Boolean = {
    val rows = df.collect()
    rows.length == 1 && rows(0).getAs[Number](column).longValue == expected
  }

  override def warmPasses: Int = 2

  override def pass(ctx: Ctx, c: Int): Pass = {
    require(c < MaxCycles, s"cycle $c beyond the $MaxCycles staged batches")
    val start = Trace.nowMs()
    val specs = Specs.parse(ctx.trace, yaml(c)).map(s => s.id -> s).toMap
    val resolver = new BenchResolver(new ParquetSourceResolver(dataDir, TestdataCatalog),
      ctx.trace)
    def built(id: String) = Specs.build(ctx, specs(id), resolver)
    def written(id: String, kind: String) = {
      val df = built(id)
      val dir = out(ctx, kind, c)
      ctx.trace.span("sinks", "write")(
        BatchSink.write(df, specs(id).outputTopic.get, dir, new DirProvisioner(dir)))
    }
    def op(name: String, rows: Long)(body: => Boolean) = Harness.op(ctx, start, name, rows)(body)
    val ops = Seq(
      op("knn_index_append", Append)(report(built("append-vectors"), "appended_rows", Append)),
      op("knn_search", Queries)(written("search-index", "search")),
      op("knn_index_delete", Delete)(report(built("delete-vectors"), "deleted_rows", Delete)),
      op("dedup_near", Batch)(written("screen-docs", "screen")),
      op("shingle_index_append", Batch)(
        report(built("publish-docs"), "appended_docs", Batch)),
      op("shingle_index_retract", Retract)(
        report(built("retract-docs"), "retracted_docs", Retract))) ++
      (if (c % CompactEvery != 0) Nil else Seq(
        op("knn_index_compact", 0)(built("compact-index").collect().length == 1)))
    Pass(c, Trace.nowMs() - start, ops)
  }

  override def verify(ctx: Ctx, passes: Seq[Pass]): (Tally, Seq[Check]) = {
    val checks = passes.flatMap { p =>
      val byName = p.ops.map(o => o.name -> o).toMap
      val params = Map("data" -> dataDir, "cycle" -> p.index.toString)
      (if (byName("knn_search").ok) Seq(Check("index_recall", "knn_search",
        out(ctx, "search", p.index), params + ("op" -> s"${p.index}/knn_search"))) else Nil) ++
      (if (byName("dedup_near").ok) Seq(Check("novel_docs", "dedup_near",
        out(ctx, "screen", p.index), params + ("op" -> s"${p.index}/dedup_near"))) else Nil)
    }
    (Tally.of(passes.flatMap(_.ops).map(_.ok)), checks)
  }

  override def layerMetrics(ctx: Ctx, passes: Seq[Pass]): Map[String, Double] = {
    val spans = ctx.trace.allSpans.map(s => s.id -> s).toMap
    Verbs.flatMap { v =>
      val calls = passes.flatMap(_.ops).filter(_.name == v).flatMap(o => spans.get(o.span))
      val n = math.max(1, calls.size).toDouble
      Seq(s"verb.$v.wall_ms" -> calls.map(_.ms).sum / n,
        s"verb.$v.jobs" -> calls.map(s => Layers.jobsOf(ctx.trace, ctx.trace.subtree(s.id))).sum / n,
        s"verb.$v.idle_ms" -> calls.map(Layers.idleMs(ctx.trace, _)).sum / n,
        s"verb.$v.task_ms" -> calls.map(s => Layers.tasksOf(ctx.trace, ctx.trace.subtree(s.id))
          .sum(_.runMs)).sum / n)
    }.toMap ++ Kernels.lshYield(ctx, s"$dataDir/documents.parquet") ++
      Kernels.perRow(ctx, s"$dataDir/documents.parquet", s"$dataDir/embeddings.parquet") +
      ("config.parse_ms" -> Specs.parseMs(yaml(1)))
  }
}

object IndexMaintenance {
  val BaseVectors = 2000L
  val Append = 100
  val Delete = 20
  val Queries = 8
  val QueryBase = 10000000L
  val BaseDocs = 1000L
  val Batch = 100
  val Retract = 10
  val DupShare = 0.05
  val BatchDupShare = 0.3
  val CompactEvery = 1
  val MaxCycles = 12
  val Verbs = Seq("knn_index_append", "knn_search", "knn_index_delete", "dedup_near",
    "shingle_index_append", "shingle_index_retract", "knn_index_compact")

  def IdsSchema(id: String): org.apache.spark.sql.types.StructType =
    new org.apache.spark.sql.types.StructType().add(id, org.apache.spark.sql.types.LongType)
      .add("cycle", IntegerType)
}
