package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{HashFunctions, TopK, VectorFunctions}
import graft.operators.{Dedup, TextAnalysis}

/** Traced-run measurements below the operators: the MinHash LSH verify
  * yield and the per-row cost of the native kernels, both over a
  * workload's own staged documents and vectors.
  */
object Kernels {
  val KernelCopies = 20L

  /** Verified pairs over candidate pairs of the MinHash LSH operator. */
  def lshYield(ctx: Ctx, docsPath: String): Map[String, Double] = {
    val docs = ctx.spark.read.parquet(docsPath)
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 3, 128)
    val (banded, cands) = Dedup.minhashCandidates(sigs, 128, 32)
    val candidates = cands.count().toDouble
    banded.unpersist()
    val verified = Dedup.minhashLshPairs(docs, "doc_id", "text",
      shingleSize = 3, numHashes = 128, bands = 32, threshold = 0.7).count().toDouble
    Map("operators.lsh.candidate_pairs" -> candidates,
      "operators.lsh.verified_pairs" -> verified,
      "operators.lsh.verify_yield" -> (if (candidates == 0) 0.0 else verified / candidates))
  }

  /** Cost per row of each native kernel: a noop-sink select of the kernel
    * over the workload's cached inputs, minus the same select without it.
    */
  def perRow(ctx: Ctx, docsPath: String, vecsPath: String): Map[String, Double] = {
    val spark = ctx.spark
    val rep = spark.range(KernelCopies).toDF("copy")
    def cached(df: DataFrame) = {
      val c = df.persist(StorageLevel.MEMORY_ONLY)
      c.count(); c
    }
    val docs = cached(spark.read.parquet(docsPath)
      .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("toks")).crossJoin(rep))
    val sh = cached(docs.select(col("doc_id"), col("copy"),
      array_sort(array_distinct(HashFunctions.hashed_shingles(col("toks"), 3))).as("sh")))
    val pairs = cached(sh.as("a").join(sh.as("b"),
        col("b.doc_id") === col("a.doc_id") + 1 && col("a.copy") === col("b.copy"))
      .select(col("a.sh").as("sa"), col("b.sh").as("sb")))
    val vecs = spark.read.parquet(vecsPath)
    val qs = vecs.limit(4).select(col("vec_id").as("qid"), col("embedding").as("q"))
    val vq = cached(vecs.crossJoin(qs).crossJoin(rep).select(col("vec_id"), col("embedding"),
      col("qid"), col("q")))
    val centroids = vecs.limit(16).collect().map(_.getSeq[Float](1).map(_.toDouble)).toSeq
    // narrow rows, so the aggregation input can be ten times longer
    val scored = cached(vq.select(col("qid"), col("vec_id"),
      VectorFunctions.cosine_sim(col("embedding"), col("q")).as("score"))
      .crossJoin(spark.range(10).toDF("copy2")))
    def noop(df: DataFrame): Double = {
      val t0 = Trace.nowMs()
      df.write.format("noop").mode("overwrite").save()
      Trace.nowMs() - t0
    }
    // per input row of the kernel (an aggregation's output has fewer rows)
    def cost(input: DataFrame, base: DataFrame, withKernel: DataFrame): Double = {
      val rows = input.count().toDouble
      noop(withKernel); noop(base)
      val k = Stats.median((1 to 3).map(_ => noop(withKernel)))
      val b = Stats.median((1 to 3).map(_ => noop(base)))
      math.max(0.0, (k - b) * 1e6 / rows)
    }
    val res = Map(
      "hashed_shingles" -> cost(docs, docs.select(size(col("toks"))),
        docs.select(size(HashFunctions.hashed_shingles(col("toks"), 3)))),
      "minhash_from_hashes" -> cost(sh, sh.select(size(col("sh"))),
        sh.select(size(HashFunctions.minhash_from_hashes(col("sh"), 128)))),
      "sorted_intersect_count" -> cost(pairs, pairs.select(size(col("sa")) + size(col("sb"))),
        pairs.select(HashFunctions.sorted_intersect_count(col("sa"), col("sb")))),
      "cosine_sim" -> cost(vq, vq.select(size(col("embedding")) + size(col("q"))),
        vq.select(VectorFunctions.cosine_sim(col("embedding"), col("q")))),
      "nearest_cells" -> cost(vq, vq.select(size(col("embedding"))),
        vq.select(size(VectorFunctions.nearest_cells(col("embedding"), centroids, 2)))),
      "topk" -> cost(scored, scored.groupBy("qid").agg(max(col("score"))),
        scored.groupBy("qid").agg(TopK.topk(col("score"), col("vec_id"), 10))))
    Seq(docs, sh, pairs, vq, scored).foreach(_.unpersist())
    res.map { case (k, v) => s"functions.$k.ns_per_row" -> v }
  }
}
