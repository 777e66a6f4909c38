package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.{Pipeline, Tables}
import graft.ops.{Features, LlmOps}

/** One benchmark workload: inputs it generates, the chain it times
  * and the checks it applies to every chain's outputs.
  *
  * Every library call of a chain runs inside a span named after the
  * module and stage it exercises. A call that returns a lazy relation
  * is materialized inside its own span (local checkpoint, collect or
  * write), so the stage's Spark work is timed where it is declared.
  * Write and read calls also feed the `write_s` / `read_s` samples.
  */
abstract class Workload(val spark: SparkSession, val tr: Tracer,
    val dir: String, val seed: Long) {
  def name: String

  /** Write the seeded inputs under `dir`. */
  def generate(sizes: Inputs.Sizes): Unit

  /** Load inputs and compute reference answers (part of set-up). */
  def prepare(): Unit = ()

  /** One chain; `iter` numbers it (scratch paths are per iteration).
    * Returns the chain's output checks, which the caller runs after
    * the chain's span has closed.
    */
  def chain(iter: Int): () => Unit

  /** Remove an iteration's scratch output (untimed). */
  def cleanup(iter: Int): Unit = ()

  /** Once, after set-up and before warm-up (timed into set-up). */
  def begin(): Unit = ()

  /** Once, after the measured loop; returns its output checks. */
  def end(): () => Unit = () => ()

  val writeS = ArrayBuffer.empty[Double]
  val readS = ArrayBuffer.empty[Double]
  var recording = false
  var attempted = 0L
  val failures = ArrayBuffer.empty[String]
  /** Test hook: perturbs each workload's reference answer, so a sound
    * run must fail its checks.
    */
  var poison = 0L

  protected def op[T](span: String)(body: => T): T = {
    attempted += 1
    tr.span(span)(body)
  }

  private def timed[T](into: ArrayBuffer[Double])(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    if (recording) into += (System.nanoTime() - t0) / 1e9
    out
  }

  protected def writeOp[T](span: String)(body: => T): T = timed(writeS)(op(span)(body))
  protected def readOp[T](span: String)(body: => T): T = timed(readS)(op(span)(body))
  /** Several ops timed together as one `read_s` sample. */
  protected def reading[T](body: => T): T = timed(readS)(body)

  /** One output check; a mismatch counts as a failed operation. */
  protected def expect(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) failures += s"$name: $what"
  }

  /** Order-independent digest of a relation's rows: (row count, sum of
    * row hashes), per value of `by` when given.
    */
  protected def digest(df: DataFrame, by: String*): Map[String, (Long, String)] = {
    val h = sum(xxhash64(df.columns.map(col): _*).cast("decimal(38,0)"))
    df.groupBy(by.map(col): _*).agg(count(lit(1)), h.cast("string")).collect()
      .map(r => (0 until by.length).map(r.get(_).toString).mkString("/") ->
        (r.getLong(by.length), r.getString(by.length + 1))).toMap
  }

  protected def fs: FileSystem = FileSystem.get(
    new java.net.URI(dir), spark.sparkContext.hadoopConfiguration)

  protected def rm(p: String): Unit = fs.delete(new Path(p), true)

  protected def duBytes(p: String): Long = {
    val path = new Path(p)
    if (fs.exists(path)) fs.getContentSummary(path).getLength else 0L
  }
}

/** The reference's recommender flow: events → the two dbt models as
  * SQL views → parameterized extraction → 90/10 time split → vocab on
  * train → encode both splits into x/y tensors (persisted, the flow's
  * hand-off artifact) → HR@10 of a train-popularity top-10 predictor.
  */
final class RecsysFlow(spark: SparkSession, tr: Tracer, dir: String,
    seed: Long) extends Workload(spark, tr, dir, seed) {
  import spark.implicits._
  val name = "recsys_flow"
  private val (startDate, endDate) = Inputs.window(seed)
  private var splitRef = Map.empty[String, (Long, String)]
  private var digestRef: Option[(Map[String, (Long, String)], Double)] = None

  def generate(sizes: Inputs.Sizes): Unit =
    Inputs.write(Inputs.events(spark, seed, sizes.events, sizes.users),
      s"$dir/events.parquet")

  private def extract(): DataFrame =
    Pipeline.q123SqlSessionEvents(spark, dir, "k1", startDate, endDate)
      .select(col("session_id"), col("session_date"),
        split(col("interactions"), "\\|").as("interactions"))

  /** The split in its plain single-window form, computed once. */
  override def prepare(): Unit = {
    val w = Window.orderBy("session_date", "session_id")
    splitRef = digest(extract()
      .withColumn("pr", percent_rank().over(w))
      .select(col("session_id"),
        when(col("pr") < 0.9, "train").otherwise("test").as("split")), "split")
  }

  private def out(iter: Int) = s"$dir/tensors_$iter"

  /** `read_s` is the read side of the flow — extraction, split and
    * vocabulary, everything computed from the event log before the
    * tensors are written; `write_s` is the encode-and-write step.
    */
  def chain(iter: Int): () => Unit = {
    val (split, vocab, nVocab) = reading {
      val sessions = op("Pipeline.extract") { extract().localCheckpoint() }
      val split = op("Features.time_split") {
        Pipeline.trainTestSplit(sessions).localCheckpoint()
      }
      val (vocab, nVocab) = op("Pipeline.fit_vocab") {
        val (v, n) = Pipeline.fitVocabSized(split.filter(col("split") === "train")
          .select(explode(col("interactions")).as("token")))
        (v.localCheckpoint(), n)
      }
      (split, vocab, nVocab)
    }
    val train = split.filter(col("split") === "train")
    val test = split.filter(col("split") === "test")
    writeOp("Pipeline.encode") {
      Seq("train" -> train, "test" -> test).foreach { case (s, df) =>
        Pipeline.featuresWithVocab(df, vocab, vocabRows = Some(nVocab))
          .write.mode("overwrite").parquet(s"${out(iter)}/$s")
      }
    }
    // predictor: the ten most frequent train tokens are vocab ids
    // 2..11, i.e. classes 1..10 in y's 0-based label space
    val top10 = (1 to 10).toList
    val hr = op("Features.hr_at_k") {
      spark.read.parquet(s"${out(iter)}/test")
        .select(typedLit(top10).as("preds"), col("y"))
        .as[(Seq[Int], Int)]
        .select(new Features.HitRateAtK(10).toColumn).head()
    }

    () => {
      val got = digest(split.select("session_id", "split"), "split")
      val want = splitRef.map { case (k, (n, h)) => k -> (n + poison, h) }
      expect(got == want,
        s"time split $got differs from the single-window percent_rank split $want")
      val ids = vocab.agg(min("id"), max("id"), countDistinct("id")).head()
      expect(ids.getInt(0) == 2 && ids.getInt(1) == nVocab + 1 &&
        ids.getLong(2) == nVocab, s"vocab ids are not 2..V+1: $ids")
      val tensors = digest(spark.read.parquet(s"${out(iter)}/train")
        .unionByName(spark.read.parquet(s"${out(iter)}/test"))
        .select("session_id", "x", "y"))
      digestRef match {
        case None => digestRef = Some((tensors, hr))
        case Some(ref) => expect((tensors, hr) == ref,
          s"iteration digest ${(tensors, hr)} != first iteration's $ref")
      }
      expect(hr > 0.1 && hr < 1.0, s"HR@10 $hr outside (0.1, 1)")
    }
  }

  override def cleanup(iter: Int): Unit = rm(out(iter))
}

/** Persisted ANN-index lifecycle in its serving regime: reads served
  * from an index that is being ingested into and deleted from; and,
  * in traced runs only, the corpus release that feeds such an index
  * (see [[releaseCorpus]]).
  *
  * Set-up seeds the index (stamped ingest of batch 0, seal, then a
  * delete of the seeded 20% slice, whose tombstones also mask those
  * ids in every later batch) and keeps a copy of that base. Each
  * chain is one ingest tick (a flat append of the next batch) followed
  * by `ServesPerTick` serve probes; after the chain's checks the index
  * is restored to the base (untimed), so every chain works on the same
  * index state however many chains a run fits. The run ends by applying the
  * deletes to the base plus one more batch and checking the compacted
  * index. The index lives under `SPARK_GRAFT_INDEX_ROOT`.
  */
final class IndexLifecycle(spark: SparkSession, tr: Tracer, dir: String,
    seed: Long) extends Workload(spark, tr, dir, seed) {
  val name = "index_lifecycle"
  private val K = 5
  private val NCells = 16
  private val NShards = 8
  /** Serve probes per ingest tick: a served index takes more reads
    * than writes, and each read is one `read_s` sample.
    */
  private val ServesPerTick = 2
  private var emb: DataFrame = _
  private var queries: DataFrame = _
  private var delVecs: Set[Long] = Set.empty
  private var nBatches = 0
  private var ticks = 0
  private val root = sys.env.getOrElse("SPARK_GRAFT_INDEX_ROOT",
    sys.error("SPARK_GRAFT_INDEX_ROOT must name the benchmark's index root"))
  private val ann = s"$root/ann"
  private val base = s"$root/ann_base"
  private val release = s"$dir/release"

  private var docCount = 0

  def generate(sizes: Inputs.Sizes): Unit = {
    docCount = sizes.docs
    Inputs.lifecycle(spark, seed, dir, sizes)
  }

  override def prepare(): Unit = {
    emb = spark.read.parquet(s"$dir/embeddings").localCheckpoint()
    queries = emb.join(spark.read.parquet(s"$dir/probe_vectors"), "vec_id")
      .select("vec_id", "embedding").localCheckpoint()
    delVecs = emb.filter(col("deleted")).select("vec_id").collect()
      .map(_.getLong(0)).toSet
    nBatches = emb.agg(max("batch")).head().getInt(0) + 1
  }

  private def batch(df: DataFrame, b: Int, cols: String*) =
    df.filter(col("batch") === b).select(cols.map(col): _*)

  /** One probe batch; returns the served neighbour ids. */
  private def serve(): Set[Long] = readOp("LlmOps.serve") {
    LlmOps.annIncremental(spark, queries, ann, k = K, nProbe = 4)
      .select("neighbor_id").collect().map(_.getLong(0)).toSet
  }

  private def expectNoDeleted(step: String, served: Set[Long]): Unit =
    expect(served.intersect(delVecs).isEmpty,
      s"$step served deleted ids ${served.intersect(delVecs)}")

  override def begin(): Unit = {
    writeOp("LlmOps.ingest") {
      LlmOps.annIndexAppendBatch(spark, batch(emb, 0, "vec_id", "embedding"),
        ann, 0L, nCells = NCells)
    }
    op("LlmOps.seal") { LlmOps.annIndexSeal(spark, ann) }
    op("LlmOps.delete") {
      LlmOps.annIndexDelete(spark, ann, emb.filter(col("deleted")).select("vec_id"))
    }
    copy(ann, base)
  }

  /** `Pipeline.prepareCorpus` with the q125 configuration (exact dedup →
    * 20-token paragraph strip → exhaustive 3-gram near-dedup at 0.5 →
    * connected components → quality gate → perplexity gate against the
    * `src0` slice → decontamination at 700‰ against the `doc_id % 13`
    * slice → quota of 12 docs per source → train/holdout gate), then
    * the release (8 train shards, holdout, datacard and manifest) and a
    * read-back of it. Returns the release's output checks. The chain
    * issues over a hundred Spark jobs (15-30 s on 4 cores), too many
    * to repeat in every run, so only traced runs make it, once, for
    * its per-layer numbers; they also generate its seeded corpus here.
    */
  def releaseCorpus(): () => Unit = {
    Inputs.write(Inputs.documents(spark, seed, docCount),
      s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir)
    val (cleaned, report) = op("Pipeline.prepare") {
      val (c, r) = Pipeline.prepareCorpus(spark,
        docs.select("doc_id", "lang", "source", "text"),
        nearThreshold = 0.5, minTokens = 5, dupMilliMax = 300,
        topMilliMax = 200,
        evalDocs = Some(docs.filter(col("doc_id") % 13 === 0)
          .select("doc_id", "text")),
        contaminationMilli = 700, exactNearDedup = true,
        paraDedupTokens = Some(20),
        perplexityRef = Some(docs.filter(col("source") === "src0")
          .select("text")),
        sourceQuotaCap = Some(12))
      (c.localCheckpoint(), r)
    }
    writeOp("Pipeline.release") {
      Pipeline.releaseArtifacts(spark, cleaned, report.counters, release,
        NShards)
    }
    val (manifest, shards, holdout) = readOp("Pipeline.read_back") {
      val m = spark.read.parquet(s"$release/manifest").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toSeq
      val s = spark.read.parquet(s"$release/train_shards")
        .groupBy("__shard").count().collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      (m, s, spark.read.parquet(s"$release/holdout").count())
    }

    () => {
      val want = (report.counters :+ ("n_shards" -> NShards.toLong))
        .map { case (k, v) => k -> (if (k == "train") v + poison else v) }
      expect(manifest.sortBy(_._1) == want.sortBy(_._1),
        s"manifest read back $manifest != CorpusReport counters $want")
      expect(shards.values.sum == report.train + poison,
        s"shard rows ${shards.values.sum} != train ${report.train}")
      expect(shards.size == NShards, s"${shards.size} of $NShards shards written")
      expect(holdout == report.holdout,
        s"holdout rows $holdout != report ${report.holdout}")
      expect(report.afterNearDedup < report.afterExactDedup &&
        report.pplDropped > 0 && report.decontaminated > 0 &&
        report.quotaDropped > 0 && report.train > 0,
        s"a gate of the prepared corpus removed nothing: $report")
    }
  }

  private def copy(from: String, to: String): Unit = {
    rm(to)
    org.apache.hadoop.fs.FileUtil.copy(fs, new Path(from), fs, new Path(to),
      false, spark.sparkContext.hadoopConfiguration)
  }

  /** The batch a tick appends: the ticks cycle through batches 1..B-1. */
  private def tickBatch(t: Int): Int = 1 + t % (nBatches - 1)

  /** Flat append of batch `b` to the index. */
  private def append(b: Int): Unit =
    LlmOps.annIndexWrite(spark, batch(emb, b, "vec_id", "embedding"), ann,
      mode = "append")

  def chain(iter: Int): () => Unit = {
    val b = tickBatch(ticks)
    ticks += 1
    writeOp("LlmOps.ingest") { append(b) }
    val served = Seq.fill(ServesPerTick)(serve())
    () => served.foreach(expectNoDeleted(s"tick $iter", _))
  }

  /** Back to the sealed base after every chain. */
  override def cleanup(iter: Int): Unit = if (ticks > 0) copy(base, ann)

  override def end(): () => Unit = {
    val b = tickBatch(ticks)
    writeOp("LlmOps.ingest") { append(b) }
    op("LlmOps.apply_deletes") { LlmOps.annIndexApplyDeletes(spark, ann) }
    () => {
      val ingested = (col("batch") === 0 || col("batch") === b) && !col("deleted")
      val live = emb.filter(ingested).select("vec_id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
      val nVec = spark.read.parquet(s"$ann/vectors").count()
      expect(nVec == live.length + poison,
        s"live vectors $nVec != ingested - deleted ${live.length}")
      checkExhaustive(live)
    }
  }

  /** The exhaustive probe (every cell, lossless candidate factor)
    * equals brute-force cosine top-k over the survivors, ranked by
    * (cosine desc, id asc) like the library's exact search.
    */
  private def checkExhaustive(live: Array[(Long, Array[Float])]): Unit = {
    val got = LlmOps.annIncremental(spark, queries, ann, k = K,
        nProbe = NCells, candFactor = live.length / K + 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) ->
        (r.getLong(2), r.getDouble(3))).toMap
    def dot(a: Array[Float], b: Array[Float]) =
      a.indices.map(i => a(i).toDouble * b(i)).sum
    queries.collect().foreach { r =>
      val (q, qv) = (r.getLong(0), r.getSeq[Float](1).toArray)
      val want = live.filter(_._1 != q)
        .map { case (id, v) => id -> dot(qv, v) / math.sqrt(dot(qv, qv) * dot(v, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(K)
      want.zipWithIndex.foreach { case ((id, c), i) =>
        got.get((q, i + 1)) match {
          case Some((gid, gc)) =>
            // a different id at one rank is a tie, not an error
            expect(math.abs(gc - c) < 1e-5 && (gid == id || math.abs(gc - c) < 1e-6),
              s"exhaustive probe q=$q rank ${i + 1}: ($gid, $gc) != ($id, $c)")
          case None => expect(false, s"exhaustive probe q=$q lacks rank ${i + 1}")
        }
      }
    }
  }

  /** On-disk bytes of the index (the base plus one tick's batch) over
    * the bytes of its live rows written once as plain parquet.
    */
  def spaceAmp(): Double = {
    val b = tickBatch(0)
    val once = s"$dir/live_once"
    emb.filter((col("batch") === 0 || col("batch") === b) && !col("deleted"))
      .select("vec_id", "embedding").write.mode("overwrite").parquet(once)
    append(b)
    val amp = duBytes(ann).toDouble / duBytes(once)
    copy(base, ann)
    amp
  }
}

object Workload {
  val names = Seq("recsys_flow", "index_lifecycle")

  def apply(name: String, spark: SparkSession, tr: Tracer, dir: String,
      seed: Long): Workload = name match {
    case "recsys_flow" => new RecsysFlow(spark, tr, dir, seed)
    case "index_lifecycle" => new IndexLifecycle(spark, tr, dir, seed)
  }
}
