package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generator. Everything a workload feeds the program comes
  * from here, so one `--seed` fixes the inputs of a run; the program only
  * ever sees the parquet tables (or stream rows) written below.
  */
object Gen {

  /** Epoch of every generated timestamp (2024-01-01T00:00:00Z). */
  val Epoch: Long = 1704067200000L

  def rng(seed: Long, stream: String): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ stream.hashCode.toLong)

  def write(spark: SparkSession, rows: Seq[Row], schema: StructType, path: String,
      parts: Int = 2): Long = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
      .write.mode("overwrite").parquet(path)
    rows.size.toLong
  }

  // ------------------------------------------------------------ relational

  val Segments = Vector("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  val EventTypes = Vector("click", "view", "purchase", "search", "share", "login")

  /** The order/customer/nation/region star plus an events fact table.
    * Returns row counts per table.
    */
  def relational(spark: SparkSession, dir: String, seed: Long, customers: Int,
      orders: Int, events: Int, users: Int): Map[String, Long] = {
    val r = rng(seed, "relational")
    val region = (0 until 5).map(i => Row(i, s"REGION$i"))
    val nation = (0 until 25).map(i => Row(i, s"NATION$i", i % 5))
    // a few customers point at a nation that does not exist, so the
    // table-table LEFT join has unmatched rows
    val customer = (1 to customers).map { i =>
      val nk = if (r.nextInt(50) == 0) 99 else r.nextInt(25)
      Row(i.toLong, f"Customer#$i%09d", nk,
        math.round(r.nextDouble() * 1099900 - 99900) / 100.0,
        Segments(r.nextInt(Segments.size)))
    }
    val order = (1 to orders).map { i =>
      Row(i.toLong, (1 + r.nextInt(customers)).toLong,
        if (r.nextBoolean()) "O" else "F",
        math.round(r.nextDouble() * 50000000 + 100000) / 100.0,
        new Timestamp(Epoch + r.nextInt(2000) * 86400000L),
        Priorities(r.nextInt(Priorities.size)))
    }
    val ev = eventRows(r, events, users, Epoch, 6L * 3600 * 1000)
    Map(
      "region" -> write(spark, region, new StructType().add("r_regionkey", IntegerType)
        .add("r_name", StringType), s"$dir/region.parquet", 1),
      "nation" -> write(spark, nation, new StructType().add("n_nationkey", IntegerType)
        .add("n_name", StringType).add("n_regionkey", IntegerType), s"$dir/nation.parquet", 1),
      "customer" -> write(spark, customer, new StructType().add("c_custkey", LongType)
        .add("c_name", StringType).add("c_nationkey", IntegerType)
        .add("c_acctbal", DoubleType).add("c_mktsegment", StringType),
        s"$dir/customer.parquet"),
      "orders" -> write(spark, order, new StructType().add("o_orderkey", LongType)
        .add("o_custkey", LongType).add("o_orderstatus", StringType)
        .add("o_totalprice", DoubleType).add("o_orderdate", TimestampType)
        .add("o_orderpriority", StringType), s"$dir/orders.parquet"),
      "events" -> write(spark, ev, EventSchema, s"$dir/events.parquet"))
  }

  val EventSchema: StructType = new StructType().add("event_id", LongType)
    .add("ts", TimestampType).add("user_id", LongType).add("event_type", StringType)
    .add("value", DoubleType).add("props", StringType)

  /** Events with a skewed user distribution (a fifth of the users carry
    * about half of the events) over `spanMs` of event time.
    */
  def eventRows(r: SplittableRandom, n: Int, users: Int, start: Long,
      spanMs: Long): Seq[Row] =
    (0 until n).map { i =>
      Row(i.toLong, new Timestamp(start + (r.nextDouble() * spanMs).toLong),
        skewedUser(r, users), EventTypes(r.nextInt(EventTypes.size)),
        r.nextInt(100000) / 100.0, s"""{"v":${r.nextInt(10)}}""")
    }

  def skewedUser(r: SplittableRandom, users: Int): Long =
    if (r.nextBoolean()) r.nextInt(math.max(1, users / 5)).toLong
    else r.nextInt(users).toLong

  // ------------------------------------------------------------------ text

  private val Markers = Vector(
    Vector("the", "and", "of", "to", "is", "that", "for", "with", "this", "not"),
    Vector("der", "die", "das", "und", "nicht", "ist", "ein", "eine", "mit"),
    Vector("el", "la", "los", "las", "es", "una", "para", "por", "como", "pero"),
    Vector("le", "les", "des", "est", "une", "dans", "pour", "que", "pas", "sur"))
  private val Langs = Vector("en", "de", "es", "fr")
  private val Sources = Vector("web", "books", "forum")

  /** Pseudo-words over a-z, fixed by the seed. */
  def vocabulary(r: SplittableRandom, n: Int): Vector[String] =
    (0 until n).map { _ =>
      val len = 2 + r.nextInt(9)
      (0 until len).map(_ => ('a' + r.nextInt(26)).toChar).mkString
    }.toVector

  final case class Doc(id: Long, text: String, lang: String, source: String)

  /** Documents with a share `dupShare` of injected near-duplicates: a copy
    * of an earlier document with one or two tokens replaced, which keeps
    * its 3-shingle Jaccard similarity to the original near 0.9. A small
    * share of documents is too short for the quality filter.
    */
  def documents(r: SplittableRandom, vocab: Vector[String], ids: Seq[Long],
      dupShare: Double, pool: Seq[Doc] = Nil): Seq[Doc] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Doc]
    ids.foreach { id =>
      val originals = if (pool.nonEmpty) pool else out
      val doc =
        if (originals.nonEmpty && r.nextDouble() < dupShare) {
          val src = originals(r.nextInt(originals.size))
          val toks = src.text.split(" ").toBuffer
          (0 until 1 + r.nextInt(2)).foreach { _ =>
            toks(r.nextInt(toks.size)) = vocab(r.nextInt(vocab.size))
          }
          Doc(id, toks.mkString(" "), src.lang, src.source)
        } else {
          val lang = r.nextInt(Langs.size)
          val n = if (r.nextInt(20) == 0) 4 + r.nextInt(6) else 20 + r.nextInt(70)
          val toks = (0 until n).map { j =>
            val w =
              if (r.nextInt(6) == 0) Markers(lang)(r.nextInt(Markers(lang).size))
              else vocab(math.min(vocab.size - 1,
                (math.pow(r.nextDouble(), 2.0) * vocab.size).toInt))
            if (j % 12 == 11) w + "." else if (j % 7 == 6) w + "," else w
          }
          Doc(id, toks.mkString(" "), Langs(lang), Sources(r.nextInt(Sources.size)))
        }
      out += doc
    }
    out.toSeq
  }

  val DocSchema: StructType = new StructType().add("doc_id", LongType)
    .add("text", StringType).add("lang", StringType).add("source", StringType)
    .add("n_chars", LongType)

  def writeDocs(spark: SparkSession, docs: Seq[Doc], path: String): Long =
    write(spark, docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)),
      DocSchema, path)

  // ------------------------------------------------------------ embeddings

  val Dim = 32

  final case class Vectors(centroids: Vector[Array[Double]])

  def vectorSpace(r: SplittableRandom, clusters: Int): Vectors =
    Vectors((0 until clusters).map(_ => Array.fill(Dim)(r.nextDouble() * 2 - 1)).toVector)

  /** A vector near a random centroid; `label` is the centroid id mod 8. */
  def vector(r: SplittableRandom, space: Vectors): (Array[Float], Int) = {
    val c = r.nextInt(space.centroids.size)
    val v = space.centroids(c).map(x => (x + gauss(r) * 0.35).toFloat)
    (v, c % 8)
  }

  private def gauss(r: SplittableRandom): Double =
    math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())

  val VecSchema: StructType = new StructType().add("vec_id", LongType)
    .add("embedding", ArrayType(FloatType, containsNull = false)).add("label", IntegerType)

  def vectorRows(r: SplittableRandom, space: Vectors, ids: Seq[Long]): Seq[Row] =
    ids.map { id => val (v, l) = vector(r, space); Row(id, v.toSeq, l) }
}
