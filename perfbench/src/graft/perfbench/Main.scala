package graft.perfbench

import scala.collection.mutable.ArrayBuffer

import graft.Sessions

/** The benchmark's JVM entry point (launched by `perfbench/run.py`).
  *
  * One run: set up (build the session through `Sessions.local`,
  * generate the seeded inputs, load references, run the workload's
  * one-off begin step, then warm up until chain times settle), run
  * the workload's chain as a closed loop (one client; each chain
  * starts when the previous one and its checks are done) for
  * `--seconds`, run the one-off end step, check every output, and
  * print one JSON line. `--trace 1` attaches the Spark listeners on
  * every other measured chain, runs the corpus release once (in
  * `index_lifecycle`), and reports per-layer numbers instead of end-to-end ones;
  * the untraced chains of the same run give the tracing overhead. A
  * sidecar JSON (`--out`) keeps every span and sample.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, out: String, cores: Int,
      smoke: Boolean, poison: Long)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toDouble,
      need("--trace") == "1", need("--work"), need("--out"),
      need("--cores").toInt, m.get("--smoke").contains("1"),
      m.get("--poison").map(_.toLong).getOrElse(0L))
  }

  private val WarmupMinPasses = 3
  private val WarmupMaxPasses = 8
  private val WarmupBudgetS = 15.0
  /** Warm-up ends once a pass is within this share of the one before. */
  private val WarmupSettle = 0.05
  /** The measured loop runs for `--seconds` and at least this many
    * chains, so a slow run still reports the median of three samples,
    * not the mean of its first two (which are the slower ones).
    */
  private val MinChains = 3

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workload.names.contains(a.workload),
      s"unknown workload ${a.workload}; one of ${Workload.names.mkString(", ")}")
    val host0 = Host.read()
    val tr = new Tracer
    val sizes = if (a.smoke) Inputs.Smoke else Inputs.Full
    val dir = s"${a.work}/inputs"

    // ---- set-up: session, seeded inputs, reference answers
    val t0 = System.nanoTime()
    val spark = Sessions.local(a.cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val buildS = secs(t0)
    val w = Workload(a.workload, spark, tr, dir, a.seed)
    w.generate(sizes)
    w.prepare()
    val inputsS = secs(t0) - buildS
    w.poison = a.poison

    var iter = 0
    val failures = ArrayBuffer.empty[String]
    val counters = new SparkCounters
    /** One root span; its checks run after the span closes, then the
      * scratch output is removed (both untimed).
      */
    def runRoot(name: String, traced: Boolean)(body: Int => () => Unit): Span = {
      val i = iter
      iter += 1
      if (traced) counters.attach(spark)
      val (checks, span) = try tr.root(name, i, traced)(body(i))
        finally if (traced) counters.detach(spark)
      checks()
      w.cleanup(i)
      span
    }

    val tb = System.nanoTime()
    try runRoot("begin", a.trace) { _ => w.begin(); () => () }
    catch { case t: Throwable => failures += s"begin: $t" }
    val beginS = secs(tb)

    // ---- warm-up: at least WarmupMinPasses, then until one pass is
    // within WarmupSettle of the last (or the budget is spent)
    val tw = System.nanoTime()
    val warm = ArrayBuffer.empty[Double]
    val (minPasses, maxPasses) = if (a.smoke) (1, 1) else (WarmupMinPasses, WarmupMaxPasses)
    def settled = warm.length >= 2 &&
      math.abs(warm.last - warm(warm.length - 2)) <= WarmupSettle * warm.last
    try {
      while (failures.isEmpty && w.failures.isEmpty &&
          (warm.length < minPasses ||
          (!settled && warm.length < maxPasses && secs(tw) < WarmupBudgetS)))
        warm += runRoot("chain", traced = false)(w.chain).wallS
    } catch { case t: Throwable => failures += s"warm-up: $t" }
    val warmS = secs(tw)
    val setupS = secs(t0)

    // ---- measured closed loop; with --trace 1 every other chain is
    // traced and the untraced ones measure the tracing overhead
    val minChains = if (a.smoke) 1 else MinChains
    val traced = ArrayBuffer.empty[Span]
    val untraced = ArrayBuffer.empty[Span]
    val tm = System.nanoTime()
    w.recording = true
    try {
      var n = 0
      while (failures.isEmpty && w.failures.isEmpty &&
          (n < minChains || secs(tm) < a.seconds)) {
        val on = a.trace && n % 2 == 0
        (if (on) traced else untraced) += runRoot("chain", on)(w.chain)
        n += 1
      }
    } catch { case t: Throwable => failures += s"chain $iter: $t" }
    w.recording = false
    val measureS = secs(tm)
    Heap.collect()
    val spaceAmp = w match {
      case l: IndexLifecycle if a.trace && failures.isEmpty => Some(l.spaceAmp())
      case _ => None
    }
    try runRoot("end", a.trace)(_ => w.end())
    catch { case t: Throwable => failures += s"end: $t" }
    w match {
      case l: IndexLifecycle if a.trace && failures.isEmpty && l.failures.isEmpty =>
        try runRoot("corpus", traced = true)(_ => l.releaseCorpus())
        catch { case t: Throwable => failures += s"corpus: $t" }
      case _ =>
    }
    Heap.collect()
    failures ++= w.failures
    val host1 = Host.read()
    spark.stop()

    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else median(xs)
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("chain_s", med(untraced.map(_.wallS).toSeq), "s"),
      ("write_s", med(w.writeS.toSeq), "s"),
      ("read_s", med(w.readS.toSeq), "s"),
      ("peak_heap_mb", Heap.peakMb, "MB"))
    val at = if (traced.nonEmpty) Some(new Attribution(tr, counters)) else None
    val layers: Seq[(String, Double, String)] = at.toSeq.flatMap(Report.layers(tr, _,
      traced.toSeq, spaceAmp, buildS, host1.procCpuS - host0.procCpuS))
    val metrics = if (a.trace) layers else e2e
    val correct = failures.isEmpty && metrics.nonEmpty &&
      metrics.forall(m => !m._2.isNaN)

    Report.sidecar(a.out, a, tr, traced.toSeq, untraced.toSeq, warm.toSeq,
      buildS, inputsS, beginS, warmS, measureS, host0, host1, failures.toSeq,
      e2e, layers, w.writeS.length, w.readS.length, at)
    failures.foreach(f => System.err.println(s"[perfbench] FAILED $f"))
    if (traced.nonEmpty && untraced.nonEmpty) {
      val (t, u) = (med(traced.map(_.wallS).toSeq), med(untraced.map(_.wallS).toSeq))
      System.err.println(f"[perfbench] tracing overhead ${100 * (t - u) / u}%.1f%% " +
        f"(traced chain median $t%.3f s, untraced $u%.3f s)")
    }
    System.err.println(f"[perfbench] host steal ${host1.stealS - host0.stealS}%.2f s, " +
      f"process cpu ${host1.procCpuS - host0.procCpuS}%.2f s over the run")
    println(Report.resultLine(correct, math.max(w.attempted, 1L),
      failures.length.toLong, metrics))
    sys.exit(if (correct) 0 else 1)
  }
}
