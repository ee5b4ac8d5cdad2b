package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** The one SparkSession recipe shared by the CLIs, the benches, the plan
  * tools and the tests: AQE with skew-join splitting, a UTC session clock,
  * WARN logging. Callers differ only in app name, core count, shuffle width
  * and scan split size. (`Bench` and `Verify` keep their own blocks.) */
object Sessions {

  private def builder(appName: Option[String], shufflePartitions: Int) = {
    val b = SparkSession.builder()
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
    appName.foreach(b.appName)
    b
  }

  private def start(b: SparkSession.Builder): SparkSession = {
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A `local[cores]` session with the UI off. `shufflePartitions`
    * defaults to `cores`.
    *
    * `smallScanSplits` is for benches over multi-GB inputs: the 128 MB
    * default `maxPartitionBytes` bin-packs a sub-GB compressed corpus into
    * ~7 scan tasks, capping the scan + shuffle-write stage at 7-wide
    * regardless of core count — the single biggest scaling-efficiency
    * killer measured on KgBench. 16 MB keeps the scan at least as wide as
    * the machine. (On a real cluster the corpus is TBs and the default
    * split is already thousands wide.) */
  def local(cores: Int, appName: Option[String] = None,
      shufflePartitions: Option[Int] = None,
      smallScanSplits: Boolean = false): SparkSession = {
    val b = builder(appName, shufflePartitions.getOrElse(cores))
      .master(s"local[$cores]")
      .config("spark.ui.enabled", "false")
    if (smallScanSplits) b.config("spark.sql.files.maxPartitionBytes", 16L * 1024 * 1024)
    start(b)
  }

  /** The CLI session (`Main`, `DataMain`): spark-submit's `--master` wins,
    * `local[cores]` only when none is set. Embedded use (tests, notebooks)
    * joins the live session; the returned flag is then true and the caller
    * must not stop it on the way out. */
  def cli(appName: String, cores: Int): (SparkSession, Boolean) = {
    val joined = SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession).isDefined
    val b = builder(Some(appName), cores)
    if (!new SparkConf().contains("spark.master")) b.master(s"local[$cores]")
    (start(b), joined)
  }
}
