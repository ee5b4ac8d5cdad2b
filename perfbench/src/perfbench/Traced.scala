package perfbench

/** The traced run of one workload. After the same set-up as an untraced
  * run it alternates an untraced and a traced unit of work until `seconds`
  * are spent; the tracer listens only during the traced units. The traced
  * run of kg_batch also traces curate_docs, which is not in the benchmark's
  * workload list, so every layer is measured in some traced run. The result
  * lists every per-layer metric: those of spans and counters that belong to
  * a workload this run does not trace read 0. */
object Traced {

  val Spans: Seq[String] = Seq(
    "extract", "link.mentions", "link.sameas", "canonicalize", "link.label",
    "materialize.edges", "materialize.merge",
    "incremental.ingest", "resolve",
    "curate.quality", "curate.repetition", "curate.neardup", "curate.contamination",
    "curate.assemble", "curate.total")
  val SpanStats: Seq[String] =
    Seq("wall_s", "cpu_s", "shuffle_write_bytes", "spill_bytes", "rows_out", "task_skew")
  val Counts: Seq[String] = Seq(
    "link.sameas.candidates", "link.sameas.pairs", "link.sameas.yield",
    "link.lsh.dropped_rows", "canonicalize.edges_in", "canonicalize.components",
    "resolve.touched", "resolve.total", "resolve.rewritten", "resolve.scan_ms",
    "resolve.discover_ms", "resolve.rewrite_ms", "resolve.watermark_ms",
    "materialize.bytes_written", "materialize.files_written", "materialize.manifest_dirs",
    "simjoin.ngram.candidates", "curate.kept")
  /** Spans must cover at least this share of a traced unit's wall time. */
  val MinCoverage = 0.9

  def names: Seq[String] =
    (for (s <- Spans; m <- SpanStats) yield s"$s.$m") ++ Counts ++ Seq("jvm.gc_s") ++
      Workload.names.flatMap(w => Seq(s"$w.trace_overhead_s", s"$w.span_coverage"))

  /** The workloads a traced run of `name` traces. */
  def traces(name: String): Seq[String] =
    if (name == "kg_batch") Seq("kg_batch", "curate_docs") else Seq(name)

  private final case class Measured(metrics: Map[String, Double], failures: Seq[String],
      attempted: Int, gcMs: Long, detail: Map[String, Any])

  def run(ctx: Ctx, name: String, seed: Long, seconds: Double): Main.Output = {
    val tr = new Tracer(ctx.spark)
    val per = traces(name).map(w => trace(ctx, tr, Workload(w, ctx, seed), seconds))
    val (spans, fallbackJobs) = tr.report()
    val measured = per.flatMap(_.metrics).toMap ++
      spans.flatMap { case (s, st) => st.map { case (k, v) => s"$s.$k" -> v } } ++
      Map("jvm.gc_s" -> per.map(_.gcMs).sum / 1000.0)
    val metrics = names.map(n => n -> measured.getOrElse(n, 0.0)).toMap
    val failures = per.flatMap(_.failures)
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    Main.Output(Main.result(metrics, per.map(_.attempted).sum, failures.size),
      Map("workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> 1,
        "traced" -> traces(name), "fallback_attributed_jobs" -> fallbackJobs,
        "not_measured" -> names.filterNot(measured.contains), "failures" -> failures,
        "units" -> traces(name).zip(per.map(_.detail)).toMap, "metrics" -> metrics))
  }

  private def trace(ctx: Ctx, tr: Tracer, wl: Workload, seconds: Double): Measured = {
    val (_, warm, _) = Main.setUp(ctx, wl)
    var plain = Vector.empty[Group]
    var traced = Vector.empty[Group]
    var covered = 0.0
    val start = System.nanoTime()
    while (traced.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      plain :+= wl.run()
      ctx.unpersistAll()
      tr.attach()
      val from = tr.spanCount
      traced :+= wl.traced(tr)
      tr.detach()
      covered += tr.topLevelWallS(from)
      ctx.unpersistAll()
    }
    def unitS(g: Group) = g.ops.map(_.wallS).sum
    val coverage = covered / traced.map(unitS).sum
    val overhead = Stats.median(traced.flatMap(_.sameWorkS)) - Stats.median(plain.map(unitS))
    val counts = traced.flatMap(_.counts.keys).distinct
      .map(k => k -> Stats.median(traced.flatMap(_.counts.get(k)))).toMap
    val all = warm ++ plain ++ traced
    Measured(
      counts ++ Map(s"${wl.name}.trace_overhead_s" -> overhead,
        s"${wl.name}.span_coverage" -> coverage),
      all.flatMap(_.failures) ++ Check.expect(coverage >= MinCoverage,
        f"${wl.name}: spans cover $coverage%.3f of the traced wall time"),
      all.map(_.ops.size).sum,
      (plain ++ traced).flatMap(_.ops).map(_.counts.gcMs).sum,
      Map("untraced_unit_s" -> plain.map(unitS), "traced_unit_s" -> traced.map(unitS),
        "untraced_hashes" -> (warm ++ plain).map(_.hash), "traced_hashes" -> traced.map(_.hash)))
  }
}
