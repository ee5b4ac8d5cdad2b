package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{coalesce, count, lit, size, sum}

/** The one size policy behind every driver fast path and every explicit
  * broadcast hint (AQE never demotes a hint). Each such path has a
  * distributed twin with identical output, tested per site; the gate only
  * picks which one runs. [[checkpoint]] checkpoints the frame a site is
  * about to collect or broadcast and sizes it in the same job (rows plus
  * the site's byte estimate); the small path is taken at or below both of
  * the site's [[Limit]]s, and the decision is recorded in [[CapMetrics]] as
  * `gate.<site>` (`rows`, `bytes`, `driver` = 1 on the small path).
  *
  * The session conf `spark.graft.gates` is the only path selector: `auto`
  * (default) decides by size, `distributed` sends every site down its
  * distributed twin, anything else throws. `-Dspark.graft.gates=...`
  * reaches every session of the JVM through SparkConf's defaults. */
object SizeGate {

  val Conf = "spark.graft.gates"

  /** Inclusive row and byte ceilings of one small path. */
  final case class Limit(rows: Long, bytes: Long = Long.MaxValue) {
    /** This limit for a frame whose every row fans out to `n` rows (and n
      * times the bytes) on the small path. */
    def per(n: Long): Limit =
      if (n <= 0L) Limit(Long.MaxValue) else Limit(rows / n, bytes / n)
  }

  /** Collected into a driver loop or shipped whole from it: edge lists
    * (PageRank, k-hop, union-find) and IVF probe packs. Raw bytes; driver
    * objects cost ~8x that, so 128 MB keeps the driver near a GB. */
  val Driver = Limit(2000000L, 128L << 20)
  /** Compact-row driver loops: BPE vocabulary, brute-force kNN queries. */
  val DriverRows = Limit(2000000L)
  /** Registry-shaped broadcasts (label join, resolver guid rewrite): a
    * hash relation is ~3-4x raw bytes; a 1.7M-row / ~180 MB registry
    * broadcast measured faster than the 50M-triple shuffle join. */
  val Registry = Limit(4000000L, 256L << 20)
  /** Broadcast 8/16-byte key sets and count tables: rows are the size. */
  val KeySet = Limit(50000000L)
  /** DeltaDedup's over-cap LSH buckets (<= rows / maxBandBucket). */
  val CappedBuckets = Limit(1500000L)
  /** Driver Lloyd: 32M float32 of vectors, and floats x lists x iters
    * within ~2e9 flops (the loop is single-threaded). */
  val LloydBytes: Long = 128L << 20
  val LloydFlops: Long = 2000000000L

  /** [[LloydBytes]] and [[LloydFlops]] as one limit on `4 * floats`. */
  def lloyd(nLists: Int, iters: Int): Limit = {
    val work = nLists.toLong * iters
    Limit(Long.MaxValue,
      if (work <= 0L) LloydBytes else math.min(LloydBytes, LloydFlops / work * 4L))
  }

  /** float32 payload plus 24 bytes of row overhead of a vector column. */
  def vectorBytes(vec: Column): Column =
    coalesce(size(vec).cast("long"), lit(0L)) * 4L + 24L

  /** A checkpointed frame, its size and whether it takes the small path;
    * `extra(i)` reads extra aggregate i (null = 0). */
  final case class Sized(frame: DataFrame, rows: Long, bytes: Long,
      small: Boolean, metrics: Row) {
    def extra(i: Int): Long = if (metrics.isNullAt(2 + i)) 0L else metrics.getLong(2 + i)
  }

  /** Eagerly localCheckpoint `df` (the caller unpersists it) and measure
    * rows, `sum(rowBytes)` and the LONG `extras` in that one job. */
  def checkpoint(site: String, df: DataFrame, limit: Limit, rowBytes: Column,
      extras: Column*): Sized = {
    val auto = df.sparkSession.conf.getOption(Conf).getOrElse("auto") match {
      case "auto" => true
      case "distributed" => false
      case other => throw new IllegalArgumentException(
        s"$Conf must be 'auto' or 'distributed', not '$other'")
    }
    val (cp, m) = CapMetrics.checkpointSized(df,
      Seq(count(lit(1)), sum(rowBytes)) ++ extras: _*)
    val rows = m.getLong(0)
    val bytes = if (m.isNullAt(1)) 0L else m.getLong(1)
    val small = auto && rows <= limit.rows && bytes <= limit.bytes
    CapMetrics.record(s"gate.$site",
      Map("rows" -> rows, "bytes" -> bytes, "driver" -> (if (small) 1L else 0L)))
    Sized(cp, rows, bytes, small, m)
  }
}
