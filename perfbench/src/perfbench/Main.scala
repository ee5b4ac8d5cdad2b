package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark process: one workload, untraced (end-to-end metrics) or traced
  * (per-layer metrics). Prints one JSON result as
  * its last line of standard output and writes the details, every sample
  * included, to `--detail`.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --cores C --detail FILE */
object Main {

  /** Input generations per run; `setup_s` counts their median. */
  val SetupReps = 3
  /** A percentile is reported only with this many samples beyond it. */
  val TailBeyond = 10

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    require(Workload.names.contains(workload), s"unknown workload: $workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = Files.createDirectories(Paths.get(args("work")))

    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, new Meter(spark), cores, work)
    val out =
      try {
        if (trace) Traced.run(ctx, workload, seed, seconds)
        else untraced(ctx, workload, seed, seconds, sessionS)
      } finally spark.stop()
    Files.writeString(Paths.get(args("detail")), Json.render(out.detail))
    println(Json.render(out.result))
  }

  final case class Output(result: Map[String, Any], detail: Map[String, Any])

  private def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores * 2)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Generate the inputs [[SetupReps]] times and run the full-size
    * warm-up, then repeat units of work for `seconds`. */
  private def untraced(ctx: Ctx, name: String, seed: Long, seconds: Double,
      sessionS: Double): Output = {
    val wl = Workload(name, ctx, seed)
    val (prepS, warm, warmS) = setUp(ctx, wl)
    var groups = Vector.empty[Group]
    var heapPeak = 0L
    val start = System.nanoTime()
    while (groups.isEmpty || (System.nanoTime() - start) / 1e9 < seconds) {
      groups :+= wl.run()
      ctx.unpersistAll()
      heapPeak = math.max(heapPeak, Heap.liveOldGenBytes())
    }
    val timedS = (System.nanoTime() - start) / 1e9

    val ops = groups.flatMap(_.ops)
    val walls = ops.map(_.wallS)
    val (tailQ, tail) = tailOf(walls)
    val failures = (warm ++ groups).flatMap(_.failures)
    val attempted = (warm ++ groups).map(_.ops.size).sum
    val metrics = Map(
      "setup_s" -> (sessionS + Stats.median(prepS) + warmS),
      "items_per_s" -> ops.map(_.inputItems).sum / walls.sum,
      "op_p50_s" -> Stats.median(walls),
      "cpu_s" -> ops.map(_.counts.cpuNs).sum / 1e9 / ops.size,
      "write_amp" -> ops.map(_.counts.bytes).sum.toDouble / ops.map(_.inputBytes).sum,
      "space_amp" -> groups.last.liveBytes.toDouble / groups.last.inputBytes,
      "live_heap_peak_mb" -> heapPeak / 1048576.0)
    failures.foreach(f => System.err.println(s"[perfbench] check failed: $f"))
    Output(result(metrics, attempted, failures.size),
      Map("workload" -> name, "seed" -> seed, "seconds" -> seconds, "timed_s" -> timedS,
        "session_s" -> sessionS, "prepare_s" -> prepS, "warmup_s" -> warmS, "op_wall_s" -> walls,
        "op_count" -> walls.size, "tail_percentile" -> tailQ, "tail_s" -> tail,
        "output_hashes" -> (warm ++ groups).map(_.hash),
        "failed_frac" -> failures.size.toDouble / attempted, "failures" -> failures,
        "caps" -> ops.map(_.caps), "metrics" -> metrics))
  }

  /** Input generation [[SetupReps]] times (each into a fresh directory;
    * the last one stays) and the warm-up, each timed. */
  def setUp(ctx: Ctx, wl: Workload): (Seq[Double], Seq[Group], Double) = {
    var dir: Path = null
    val prepS = (1 to SetupReps).map { _ =>
      if (dir != null) Fs.delete(dir)
      val t0 = System.nanoTime()
      dir = ctx.freshDir(s"${wl.name}-input")
      wl.prepare(dir)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    val warm = wl.warmUp()
    val warmS = (System.nanoTime() - t0) / 1e9
    ctx.unpersistAll()
    (prepS, warm, warmS)
  }

  /** The highest percentile that leaves [[TailBeyond]] samples beyond it,
    * in steps of 5; the maximum when there are too few samples. A run of a
    * few operations has no such percentile, so the tail goes to the detail
    * file and is not an end-to-end metric. */
  def tailOf(xs: Seq[Double]): (Double, Double) = {
    val qs = (95 to 50 by -5).map(_ / 100.0)
    qs.find(q => xs.size * (1 - q) >= TailBeyond)
      .map(q => (q, Stats.quantile(xs, q)))
      .getOrElse((1.0, xs.max))
  }

  def result(metrics: Map[String, Double], attempted: Int, failed: Int): Map[String, Any] = {
    val units = Units.all
    Map("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, v) =>
        k -> Map("value" -> v, "unit" -> units.getOrElse(k, Units.of(k)))
      })
  }
}

object Units {
  val all: Map[String, String] = Map(
    "setup_s" -> "s", "items_per_s" -> "1/s", "op_p50_s" -> "s",
    "cpu_s" -> "s", "write_amp" -> "ratio", "space_amp" -> "ratio",
    "live_heap_peak_mb" -> "MB")

  /** Unit of a per-layer metric, from its name. */
  def of(name: String): String = name.split('.').last match {
    case s if s.endsWith("_s") => "s"
    case s if s.endsWith("_ms") => "ms"
    case s if s.endsWith("_bytes") || s == "bytes_written" => "bytes"
    case "task_skew" | "yield" | "span_coverage" => "ratio"
    case _ => "count"
  }
}

object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k.toString) + ": " + render(x) }
        .sortBy(identity).mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => render(other.toString)
  }
}
