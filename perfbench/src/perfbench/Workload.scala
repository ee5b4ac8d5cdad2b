package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One measured call into the program. */
final case class Op(wallS: Double, counts: Meter.Counts, inputItems: Long,
    inputBytes: Long, caps: Map[String, Map[String, Long]])

/** What one unit of work (one build, one round of batches, one curate call)
  * measured and checked. `hash` is the content hash of its output tables.
  * `sameWorkS` is the wall time of the part of a traced group that repeats
  * the untraced work, for the tracing overhead. */
final case class Group(ops: Seq[Op], liveBytes: Long, inputBytes: Long,
    failures: Seq[String], hash: String, counts: Map[String, Double] = Map.empty,
    sameWorkS: Option[Double] = None)

/** A benchmark workload. The program sees only the parquet files `prepare`
  * writes; everything after that is timed calls into its public functions
  * and reads of its outputs. */
trait Workload {
  def name: String
  /** Generate the inputs from the seed under `dir`. */
  def prepare(dir: Path): Unit
  /** The full-size warm-up of the set-up, plus any reference the output
    * checks need. Two units: after one, the next unit still ran about 15%
    * slower than the one after it. */
  def warmUp(): Seq[Group] = Seq(run(), run())
  /** One unit of untraced work, with its output checks. */
  def run(): Group
  /** The same work split into spans, with the same output checks. */
  def traced(tr: Tracer): Group
}

object Workload {
  val names: Seq[String] = Seq("kg_batch", "kg_converge", "curate_docs")

  def apply(name: String, ctx: Ctx, seed: Long): Workload = name match {
    case "kg_batch" => new KgBatch(ctx, seed)
    case "kg_converge" => new KgConverge(ctx, seed)
    case "curate_docs" => new CurateDocs(ctx, seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }
}

/** Shared state of one benchmark process. */
final class Ctx(val spark: SparkSession, val meter: Meter, val cores: Int, work: Path) {
  private val seq = new AtomicInteger

  /** A new, empty directory under this run's own work directory. */
  def freshDir(tag: String): Path =
    Files.createDirectories(work.resolve(s"$tag-${seq.incrementAndGet()}"))

  /** Time one call; CapMetrics sites it fired are attributed to it. */
  def measure(items: Long, inputBytes: Long)(body: => Unit): Op = {
    val c0 = meter.read()
    val snap = graft.ops.CapMetrics.snapshot()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    Op(wall, meter.read() - c0, items, inputBytes, graft.ops.CapMetrics.changedSince(snap))
  }

  /** Free every persisted RDD, so one unit of work cannot use another's. */
  def unpersistAll(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
}

object Fs {
  def bytesUnder(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.iterator.asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally st.close()
    }

  def delete(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.iterator.asScala.toVector.reverse.foreach(Files.deleteIfExists)
    finally st.close()
  }

  def path(dir: Path, name: String): String = dir.resolve(name).toString
}

object Check {
  /** Order-independent content hash of a table: row count plus the sum of
    * per-row 64-bit hashes of the row's JSON form. */
  def hash(df: DataFrame): String = {
    val cols = df.columns.sorted.toSeq.map(col)
    val r = df.select(xxhash64(to_json(struct(cols: _*))).cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    s"${r.getLong(0)}:${Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO)}"
  }

  def expect(cond: Boolean, what: => String): Seq[String] =
    if (cond) Nil else Seq(what)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolation quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
