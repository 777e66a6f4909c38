package graft.perfbench

/** The benchmark's outputs: the per-layer metrics of a traced run, the
  * one-line JSON result, and the sidecar file with every span.
  */
object Report {
  import Main.median

  /** Every stage span any workload opens, as `<Module>.<stage>`. */
  val Stages = Seq("Pipeline.extract", "Features.time_split",
    "Pipeline.fit_vocab", "Pipeline.encode", "Features.hr_at_k",
    "Pipeline.prepare", "Pipeline.release", "Pipeline.read_back",
    "LlmOps.ingest", "LlmOps.serve", "LlmOps.seal", "LlmOps.delete",
    "LlmOps.apply_deletes")

  private def descendants(tr: Tracer, id: Int): Seq[Span] =
    tr.children(id).flatMap(c => c +: descendants(tr, c.id))

  /** Per-layer metrics. The Spark-wide ones are computed per traced
    * chain and the median over traced chains is reported. A stage's
    * `jobs`, `wall_pct` (share of the enclosing root span's wall) and
    * byte counts come from the traced root spans that contain it — the
    * chains, or the one-off begin/end steps for stages that only run
    * there; 0 when the workload never runs the stage. Seconds per
    * stage are in the sidecar.
    */
  def layers(tr: Tracer, at: Attribution, chains: Seq[Span],
      spaceAmp: Option[Double], buildS: Double,
      procCpuS: Double): Seq[(String, Double, String)] = {
    def per(f: Span => Double) = median(chains.map(f))
    val spark = Seq(
      ("catalyst.plan_s", per(s => at.total(s.id).planMs / 1e3), "s"),
      ("spark.jobs", per(s => at.total(s.id).jobs.toDouble), "count"),
      ("spark.job_busy_s", per(at.busyS), "s"),
      ("spark.driver_only_s", per(s => s.wallS - at.busyS(s)), "s"),
      ("spark.dispatch_s", per { s =>
        val t = at.total(s.id); (t.durMs - t.runMs) / 1e3 }, "s"),
      ("spark.task_run_s", per(s => at.total(s.id).runMs / 1e3), "s"),
      ("spark.task_cpu_s", per(s => at.total(s.id).cpuNs / 1e9), "s"),
      ("spark.shuffle_bytes", per(s => at.total(s.id).shuffleBytes.toDouble), "bytes"),
      ("spark.spill_bytes", per(s => at.total(s.id).spillBytes.toDouble), "bytes"),
      ("spark.output_bytes", per(s => at.total(s.id).outBytes.toDouble), "bytes"),
      ("spark.files_written", per(s => at.total(s.id).files.toDouble), "count"),
      ("Sinks.space_amp", spaceAmp.getOrElse(0.0), "ratio"),
      ("Sessions.build_s", buildS, "s"),
      ("host.proc_cpu_s", procCpuS, "s"))
    val roots = tr.spans.filter(s => s.parent == -1 && s.traced).toSeq
    // per traced root span containing the stage: sum over its calls
    def perRoot(st: String)(f: Span => Double, g: (Span, Double) => Double): Double = {
      def of(r: Span) = descendants(tr, r.id).filter(_.name == st)
      val rs = roots.filter(r => of(r).nonEmpty)
      if (rs.isEmpty) 0.0 else median(rs.map(r => g(r, of(r).map(f).sum)))
    }
    def count(st: String)(f: Span => Double) = perRoot(st)(f, (_, x) => x)
    val stages = Stages.flatMap { st =>
      Seq((s"$st.jobs", count(st)(d => at.total(d.id).jobs.toDouble), "count"),
        (s"$st.wall_pct", perRoot(st)(_.wallS, (r, x) => 100 * x / r.wallS), "%"))
    } ++ Seq(
      ("Pipeline.prepare.shuffle_bytes",
        count("Pipeline.prepare")(d => at.total(d.id).shuffleBytes.toDouble), "bytes"),
      ("Pipeline.release.output_bytes",
        count("Pipeline.release")(d => at.total(d.id).outBytes.toDouble), "bytes"))
    spark ++ stages
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  private def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")

  private def metricsObj(ms: Seq[(String, Double, String)]): String =
    obj(ms.map { case (n, v, u) => n -> obj(Seq("value" -> num(v), "unit" -> str(u))) })

  def resultLine(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[(String, Double, String)]): String =
    obj(Seq("correct" -> correct.toString, "attempted" -> attempted.toString,
      "failed" -> failed.toString, "metrics" -> metricsObj(metrics)))

  /** Share of a chain's wall covered by its stage spans. */
  def coverage(tr: Tracer, chain: Span): Double =
    tr.children(chain.id).map(_.wallS).sum / chain.wallS

  def sidecar(path: String, a: Main.Args, tr: Tracer, traced: Seq[Span],
      untraced: Seq[Span], warm: Seq[Double], buildS: Double,
      inputsS: Double, beginS: Double, warmS: Double, measureS: Double,
      host0: Host.Reading, host1: Host.Reading, failures: Seq[String],
      e2e: Seq[(String, Double, String)], layers: Seq[(String, Double, String)],
      nWrite: Int, nRead: Int, at: Option[Attribution]): Unit = {
    val measured = (traced ++ untraced).sortBy(_.iter)
    // stages of measured chains, plus those of the one-off begin/end
    val iters = (measured ++ tr.spans.filter(s => s.parent == -1 &&
      s.name != "chain")).map(_.iter).toSet
    def medOr(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else median(xs)
    val stages = Stages.flatMap { st =>
      val ss = tr.spans.filter(s => s.name == st && iters(s.iter)).toSeq
      if (ss.isEmpty) None
      else Some(st -> obj(Seq(
        "calls" -> ss.length.toString,
        "wall_s_per_call_median" -> num(median(ss.map(_.wallS))),
        "self_s_per_call_median" -> num(median(ss.map(tr.selfS))),
        "traced" -> at.map { t =>
          val ts = ss.filter(_.traced)
          obj(Seq(
            "jobs_per_call" -> arr(ts.map(s => t.total(s.id).jobs.toString)),
            "busy_s_per_call_median" -> num(medOr(ts.map(t.busyS))),
            "driver_only_s_per_call_median" -> num(medOr(ts.map(s => s.wallS - t.busyS(s))))))
        }.getOrElse("null"))))
    }
    val tracedMed = medOr(traced.map(_.wallS))
    val untracedMed = medOr(untraced.map(_.wallS))
    val json = obj(Seq(
      "workload" -> str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> num(a.seconds), "trace" -> a.trace.toString,
      "cores" -> a.cores.toString, "smoke" -> a.smoke.toString,
      "setup" -> obj(Seq(
        "session_build_s" -> num(buildS), "inputs_s" -> num(inputsS),
        "begin_s" -> num(beginS),
        "warmup_pass_s" -> arr(warm.map(num)), "warmup_s" -> num(warmS))),
      "measure_s" -> num(measureS),
      "samples" -> obj(Seq("chains_untraced" -> untraced.length.toString,
        "chains_traced" -> traced.length.toString,
        "write_ops" -> nWrite.toString, "read_ops" -> nRead.toString)),
      "host" -> obj(Seq("steal_s" -> num(host1.stealS - host0.stealS),
        "proc_cpu_s" -> num(host1.procCpuS - host0.procCpuS))),
      "tracing_overhead" -> obj(Seq("traced_chain_median_s" -> num(tracedMed),
        "untraced_chain_median_s" -> num(untracedMed),
        "overhead_pct" -> num(100 * (tracedMed - untracedMed) / untracedMed))),
      "span_coverage_min" -> num(if (measured.isEmpty) Double.NaN
        else measured.map(coverage(tr, _)).min),
      "stages" -> obj(stages),
      "end_to_end" -> metricsObj(e2e),
      "per_layer" -> metricsObj(layers),
      "failures" -> arr(failures.map(str)),
      "spans" -> arr(tr.spans.toSeq.map(s => obj(Seq(
        "id" -> s.id.toString, "name" -> str(s.name), "parent" -> s.parent.toString,
        "iter" -> s.iter.toString, "traced" -> s.traced.toString,
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "wall_s" -> num(s.wallS)))))))
    val f = new java.io.File(path)
    Option(f.getParentFile).foreach(_.mkdirs())
    val w = new java.io.PrintWriter(f, "UTF-8")
    try w.println(json) finally w.close()
  }
}
