package graft.ops

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.util.QueryExecutionListener

/** "No silent caps": always-on observability for every recall-trading cap
  * (LSH bucket caps, candidate caps) and for candidate-volume counters.
  *
  * Implementation: `Dataset.observe` — a `CollectMetrics` node computes the
  * aggregates inline with the query (no extra job, codegen-compatible) and a
  * session-registered [[QueryExecutionListener]] harvests them after each
  * action. Values land in a process-wide map keyed by SITE (a stable
  * call-site label), latest execution wins; drops are additionally logged so
  * a cap firing at corpus scale is visible in driver logs, not just to
  * callers who think to ask.
  *
  * Each `observed` call mints a unique metric name (Spark requires observed
  * metric names to be unique within one query), so the same site can be
  * instrumented in many queries/repetitions; [[latest]]/[[sum]] aggregate by
  * site prefix.
  */
object CapMetrics {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)
  private val seq = new AtomicLong(0L)
  // site -> (monotonic seq of last write, latest metrics row as name->value)
  private val bySite = new ConcurrentHashMap[String, (Long, Map[String, Long])]()
  private val writes = new AtomicLong(0L)
  private val sessions = ConcurrentHashMap.newKeySet[SparkSession]()

  private object Listener extends QueryExecutionListener {
    override def onSuccess(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
      qe.observedMetrics.foreach { case (name, row) => harvest(name, row) }
    override def onFailure(funcName: String,
        qe: org.apache.spark.sql.execution.QueryExecution, ex: Exception): Unit = ()
  }

  private def harvest(name: String, row: Row): Unit = {
    if (name.startsWith("graft.cap.")) {
      // graft.cap.<site>#<seq>
      val site = name.stripPrefix("graft.cap.").takeWhile(_ != '#')
      val vals = row.schema.fieldNames.zipWithIndex.map { case (f, i) =>
        f -> (if (row.isNullAt(i)) 0L else row.getLong(i))
      }.toMap
      bySite.put(site, (writes.incrementAndGet(), vals))
      val dropped = vals.getOrElse("dropped_rows", 0L)
      if (dropped > 0L)
        log.warn(s"[graft] cap '$site' dropped $dropped rows " +
          vals.removed("dropped_rows").map { case (k, v) => s"$k=$v" }.mkString("(", ", ", ")"))
      else if (vals.nonEmpty)
        log.info(s"[graft] metrics '$site': " +
          vals.map { case (k, v) => s"$k=$v" }.mkString(", "))
    }
  }

  private def ensureListener(spark: SparkSession): Unit =
    if (sessions.add(spark)) spark.listenerManager.register(Listener)

  /** Attach observed metrics to `df` under `site`. Columns must be
    * non-distinct aggregates producing LONG values; a column named
    * `dropped_rows` is treated as a cap-drop count and WARN-logged when
    * positive. Metrics are recorded when the consuming action runs — BUT a
    * lazy observe can be lost when AQE empty-relation propagation cancels
    * the subtree's stage (e.g. every row capped away empties a join side);
    * cap sites that must never be silent use [[observedCheckpoint]]. */
  def observed(df: DataFrame, site: String, cols: Column*): DataFrame = {
    ensureListener(df.sparkSession)
    df.observe(s"graft.cap.$site#${seq.incrementAndGet()}", cols.head, cols.tail: _*)
  }

  /** Eagerly localCheckpoint a frame containing [[observed]] nodes and
    * harvest their metrics from that execution: the metrics job runs NOW
    * (cannot be pruned by a downstream empty-relation rewrite) and the
    * returned frame is materialized — callers reuse it across self-join
    * sides, deleting the duplicate upstream pass the two sides would
    * otherwise each pay. (Direct harvest because QueryExecutionListener
    * does not fire for checkpoint jobs.) */
  def checkpointHarvest(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint(eager = true)
    df.queryExecution.observedMetrics.foreach { case (n, row) => harvest(n, row) }
    cp
  }

  /** Eagerly localCheckpoint `df` and size it in the SAME job: the
    * aggregates `cols` (e.g. `count(lit(1))`, summed string lengths) ride
    * the checkpoint as an observation, so a size gate costs no second scan
    * of the frame. Returns the checkpointed frame and the metrics row
    * (column i = aggregate i; a sum over zero rows is null). Falls back to
    * one `agg` over the checkpoint only when the observation is missing
    * (the AQE empty-relation hazard above). */
  def checkpointSized(df: DataFrame, cols: Column*): (DataFrame, Row) = {
    val name = s"graft.size#${seq.incrementAndGet()}"
    val observed = df.observe(name, cols.head, cols.tail: _*)
    val cp = observed.localCheckpoint(eager = true)
    val row = observed.queryExecution.observedMetrics.getOrElse(name,
      cp.agg(cols.head, cols.tail: _*).head())
    (cp, row)
  }

  /** Latest harvested metrics for a site ("" map if never fired). Listener
    * delivery is async (listener-bus thread): poll with [[await]] in tests. */
  def latest(site: String): Map[String, Long] =
    Option(bySite.get(site)).map(_._2).getOrElse(Map.empty)

  /** Monotonic write sequence of a site's last harvest (0 = never) — lets a
    * caller attribute metrics to ITS OWN execution window: snapshot before,
    * read after, record only if the sequence advanced (a site that did not
    * fire during the window would otherwise yield another query's stale
    * values). */
  def seqOf(site: String): Long =
    Option(bySite.get(site)).map(_._1).getOrElse(0L)

  /** Snapshot of every site's write sequence — pair with [[changedSince]]
    * to attribute metrics to one execution window. */
  def snapshot(): Map[String, Long] = {
    import scala.jdk.CollectionConverters._
    bySite.asScala.map { case (k, (s, _)) => k -> s }.toMap
  }

  /** Sites whose metrics advanced since `snap` (new sites included), with
    * their latest values — e.g. the caps/candidate counters one bench query
    * fired, excluding stale values from earlier queries. */
  def changedSince(snap: Map[String, Long]): Map[String, Map[String, Long]] = {
    import scala.jdk.CollectionConverters._
    bySite.asScala.collect {
      case (site, (s, vals)) if s > snap.getOrElse(site, 0L) => site -> vals
    }.toMap
  }

  /** Poll until `site` has metrics satisfying `p` or `timeoutMs` elapses. */
  def await(site: String, timeoutMs: Long = 10000L)(
      p: Map[String, Long] => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (System.nanoTime() < deadline) {
      if (p(latest(site))) return true
      Thread.sleep(25L)
    }
    p(latest(site))
  }
}
