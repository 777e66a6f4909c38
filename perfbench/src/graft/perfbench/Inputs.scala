package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every table is a pure function of the
  * seed: event columns, batch assignment, delete slice and probe set
  * are `xxhash64(id, seed, salt)` draws (no RNG state is shared between
  * columns); embeddings and documents come from a `java.util.Random`
  * seeded with it. The same seed gives the same bytes.
  * Schemas follow the library's event, embedding and document tables (see
  * `graft.Tables`). As in `graft.ScaleProbe`'s decorrelated replicas,
  * the seed salts every draw, so no two seeds share content. The
  * seeded structural choices — batch assignment, delete slice and
  * probe set — are written next to the tables, so the library reads
  * only the generated directory; the extraction window is a pure
  * function of the seed ([[window]]).
  */
object Inputs {

  /** Row counts for one size class. `Full` is what the benchmark
    * measures; `Smoke` is sf0.001-class and only exercises the checks.
    * `docs` is the corpus size. The lifecycle's seed batch is
    * `seedVectors` rows, followed by `ticks` batches of `tickVectors`
    * rows that the ingest ticks cycle through; a serve probe asks for
    * the neighbours of `probes` of the vectors.
    */
  final case class Sizes(events: Long, users: Long, docs: Int,
      seedVectors: Int, tickVectors: Int, ticks: Int, probes: Int)

  val Full = Sizes(events = 20000, users = 1500, docs = 1000,
    seedVectors = 600, tickVectors = 40, ticks = 40, probes = 20)
  val Smoke = Sizes(events = 6000, users = 150, docs = 600,
    seedVectors = 200, tickVectors = 20, ticks = 3, probes = 10)

  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((cols :+ lit(seed) :+ lit(salt)): _*)

  private def pick(seed: Long, salt: Int, n: Long, cols: Column*): Column =
    pmod(h(seed, salt, cols: _*), lit(n))

  /** Uniform draw in [0, 1). */
  private def unit(seed: Long, salt: Int, cols: Column*): Column =
    pick(seed, salt, 1000000L, cols: _*).cast("double") / lit(1e6)

  private val Epoch2024Us = 1704067200L * 1000000L
  private val DayUs = 86400L * 1000000L
  val Days = 30

  /** Click log: `Days` days of events from `users` users. The SKU the
    * SQL views derive (`event_id % 100`) is drawn skewed (u² over 100
    * items), so train popularity is informative and HR@10 is well
    * above chance.
    */
  def events(spark: SparkSession, seed: Long, n: Long, users: Long): DataFrame = {
    val id = col("id")
    val sku = floor(pow(unit(seed, 1, id), 2.0) * lit(100)).cast("long")
    spark.range(n).select(
      (id * lit(100L) + sku).as("event_id"),
      timestamp_micros(lit(Epoch2024Us) +
        pick(seed, 2, Days * DayUs, id)).as("ts"),
      pick(seed, 3, users, id).as("user_id"),
      element_at(array(Seq("view", "click", "purchase", "signup", "error")
        .map(lit): _*), pick(seed, 4, 5, id).cast("int") + 1).as("event_type"),
      (pick(seed, 5, 100000, id).cast("double") / lit(100.0)).as("value"),
      concat(lit("{\"k\": "), pick(seed, 6, 100, id).cast("string"),
        lit("}")).as("props"))
  }

  /** Unit-norm 64-d embeddings around ten seeded cluster centres. */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(seed)
    def norm(v: Array[Double]) = {
      val l = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / l).toFloat)
    }
    val centres = Array.fill(10)(norm(Array.fill(64)(rnd.nextGaussian())))
    (0 until n).map { i =>
      val label = rnd.nextInt(10)
      val v = centres(label).map(c => c + 0.35 * rnd.nextGaussian())
      (i.toLong, norm(v).toSeq, label)
    }.toDF("vec_id", "embedding", "label")
  }

  /** The 30-word vocabulary of the repository's test corpora. Drawn
    * uniformly, its unigram entropy (~4.9 bits) sits between the
    * perplexity gate's head and tail cut-offs, so the gate bites.
    */
  private val Words = Array("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  /** Document corpus in the library's `documents` schema: `n` docs of
    * 10-100 uniform vocabulary tokens, 20 sources (`src<id % 20>`),
    * 40% `en` and the rest over four languages. About 5% of docs are
    * near copies of an earlier doc ("dup " before its text, which
    * also shifts its paragraph boundaries, so the paragraph strip
    * leaves the copy for near-dedup) and 1% are
    * exact copies, so every dedup stage has work to do.
    */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    import spark.implicits._
    val rnd = new java.util.Random(seed * 31L + 7L)
    val others = Array("fr", "es", "zh", "de")
    val texts = new Array[String](n)
    (0 until n).map { i =>
      val r = rnd.nextDouble()
      texts(i) =
        if (i >= 20 && r < 0.05) "dup " + texts(rnd.nextInt(i))
        else if (i >= 20 && r < 0.06) texts(rnd.nextInt(i))
        else Seq.fill(10 + rnd.nextInt(91))(Words(rnd.nextInt(Words.length)))
          .mkString(" ")
      val lang = if (rnd.nextDouble() < 0.4) "en" else others(rnd.nextInt(4))
      (i.toLong, texts(i), lang, s"src${i % 20}", texts(i).length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
  }

  def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Seeded extraction window: `WindowDays` days starting on one of the
    * first `Days - WindowDays + 1` days.
    */
  val WindowDays = 21

  def window(seed: Long): (String, String) = {
    val start = java.time.LocalDate.of(2024, 1, 1)
      .plusDays(java.lang.Math.floorMod(seed * 7919L + 13L, (Days - WindowDays + 1).toLong))
    (start.toString, start.plusDays(WindowDays - 1).toString)
  }

  /** Lifecycle tables: embeddings with the ingest `batch` each row
    * arrives in (a seeded shuffle: the first `seedVectors` rows form
    * batch 0, then one `tickVectors` batch per tick) and a `deleted`
    * flag for the seeded 20% slice; plus the probe set, `probes` query
    * vectors drawn from the corpus (a fixed count, so every seed serves
    * the same number of queries).
    */
  def lifecycle(spark: SparkSession, seed: Long, dir: String, s: Sizes): Unit = {
    val n = s.seedVectors + s.ticks * s.tickVectors
    val id = col("vec_id")
    def rankBy(salt: Int) = row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(h(seed, salt, id), id)) - 1
    val rank = rankBy(20)
    write(embeddings(spark, seed, n)
      .withColumn("batch", when(rank < s.seedVectors, lit(0))
        .otherwise(((rank - s.seedVectors) / s.tickVectors).cast("int") + 1))
      .withColumn("deleted", pick(seed, 21, 5, id) === 0), s"$dir/embeddings")
    write(spark.range(n).select(col("id").as("vec_id"))
      .withColumn("r", rankBy(22)).filter(col("r") < s.probes).drop("r"),
      s"$dir/probe_vectors")
  }
}
