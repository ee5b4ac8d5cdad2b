package perfbench

import java.nio.file.Path

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.kg.{Canonicalize, Extract, Link, Materialize, Pipeline, Transcripts}
import graft.model.Model.Turn

/** kg_batch: a one-shot KG build over a seeded `Transcripts.synthetic`
  * corpus (default hot-conversation skew, 5% replayed turns), small enough
  * to stay in the block-manager cache. One operation reads the corpus, runs
  * `Pipeline.run` with the synthetic alias dictionary and the default LSH
  * linking, and MERGEs edges and nodes into fresh tables. */
final class KgBatch(ctx: Ctx, seed: Long) extends Workload {
  import KgBatch._
  val name = "kg_batch"
  private val spark = ctx.spark
  import spark.implicits._

  private val gen = Transcripts.GenConfig(seed = seed, nConvs = Convs, turnsPerConv = 12,
    hotConvFraction = 0.02, replayFraction = 0.05)
  private val dict = Pipeline.syntheticDict(spark)
  private val linkCfg = Link.Config()
  private var corpus: String = _
  private var turns = 0L
  private var inputBytes = 0L
  private var reference: Option[String] = None
  private var checkedOnce = false

  def prepare(dir: Path): Unit = {
    corpus = Fs.path(dir, "corpus")
    Transcripts.synthetic(spark, gen, partitions = ctx.cores * 2).write.parquet(corpus)
    turns = spark.read.parquet(corpus).count()
    inputBytes = Fs.bytesUnder(dir.resolve("corpus"))
  }

  private def input = spark.read.parquet(corpus).as[Turn]

  def run(): Group = {
    val out = ctx.freshDir("kg_batch-out")
    var r: Pipeline.Result = null
    val op = ctx.measure(turns, inputBytes) {
      r = Pipeline.run(input, dict, linkCfg)
      Materialize.mergeSnapshot(spark, Fs.path(out, "edges"), r.edges, Materialize.edgeKey)
      Materialize.mergeSnapshot(spark, Fs.path(out, "nodes"), r.nodes, NodeKey)
    }
    try finish(out, op, r) finally r.close()
  }

  /** The stage functions behind `Pipeline.run`, one span each. The output
    * hash check keeps this composition equal to the real pipeline. */
  def traced(tr: Tracer): Group = {
    val out = ctx.freshDir("kg_batch-traced")
    var raw: DataFrame = null
    var reg: DataFrame = null
    var counts = Map.empty[String, Double]
    val op = ctx.measure(turns, inputBytes) {
      tr.span("extract") {
        raw = Extract.extract(input).persist(StorageLevel.MEMORY_AND_DISK_SER)
        tr.rows(raw.count())
      }
      val ments = tr.span("link.mentions") {
        val m = Link.applyDict(Link.mentions(raw), dict).localCheckpoint(eager = true)
        tr.rows(m.count())
        m
      }
      val sameAs = tr.span("link.sameas") {
        val (pairs, free) = Link.fuzzySameAsManaged(ments, linkCfg, delta = false)
        val cp = pairs.localCheckpoint(eager = true)
        free()
        tr.rows(cp.count())
        cp
      }
      tr.span("canonicalize") {
        val cc = Canonicalize.connectedComponents(sameAs)
          .select($"entity_type".as("cc_et"), $"key".as("cc_key"), $"component")
          .localCheckpoint(eager = true)
        reg = ments.join(cc, ments("entity_type") === cc("cc_et") &&
            ments("dict_key") === cc("cc_key"), "left")
          .select(ments("entity_type"), ments("norm_key"),
            coalesce(cc("component"), ments("dict_key")).as("canonical_key"))
          .withColumn("guid", Link.guidFor($"entity_type", $"canonical_key"))
          .localCheckpoint(eager = true)
        tr.rows(reg.count())
        counts = Map(
          "canonicalize.edges_in" -> sameAs.count().toDouble,
          "canonicalize.components" -> cc.select("component").distinct().count().toDouble)
      }
      val labeled = tr.span("link.label") {
        val sized = reg.agg(count(lit(1)), sum(length($"entity_type") + length($"norm_key") +
          length($"canonical_key") + length($"guid"))).head()
        val hint = sized.getLong(0) <= linkCfg.maxBroadcastRegistryRows &&
          (sized.isNullAt(1) || sized.getLong(1) <= linkCfg.maxBroadcastRegistryBytes)
        val l = Link.label(raw, reg, hintBroadcast = hint).localCheckpoint(eager = true)
        tr.rows(l.count())
        l
      }
      val (edges, nodes) = tr.span("materialize.edges") {
        val e = Materialize.edges(labeled).localCheckpoint(eager = true)
        val n = Materialize.nodes(reg).localCheckpoint(eager = true)
        tr.rows(e.count() + n.count())
        (e, n)
      }
      tr.span("materialize.merge") {
        Materialize.mergeSnapshot(spark, Fs.path(out, "edges"), edges, Materialize.edgeKey)
        Materialize.mergeSnapshot(spark, Fs.path(out, "nodes"), nodes, NodeKey)
      }
    }
    val g = finish(out, op, null)
    g.copy(counts = g.counts ++ counts, sameWorkS = Some(op.wallS))
  }

  private def tables(out: Path): (DataFrame, DataFrame) =
    (Materialize.readTable(spark, Fs.path(out, "edges")).get,
      Materialize.readTable(spark, Fs.path(out, "nodes")).get)

  private def finish(out: Path, op: Op, r: Pipeline.Result): Group = {
    val (edges, nodes) = tables(out)
    val h = Check.hash(edges) + "/" + Check.hash(nodes)
    if (reference.isEmpty) reference = Some(h)
    var failures = Check.expect(reference.contains(h),
      s"kg_batch: edge/node hash $h differs from ${reference.get}")
    // once per run: MERGE idempotence and P/R against the planted facts
    if (r != null && !checkedOnce) {
      checkedOnce = true
      Materialize.mergeSnapshot(spark, Fs.path(out, "edges"), r.edges, Materialize.edgeKey)
      Materialize.mergeSnapshot(spark, Fs.path(out, "nodes"), r.nodes, NodeKey)
      val (e2, n2) = tables(out)
      val h2 = Check.hash(e2) + "/" + Check.hash(n2)
      failures ++= Check.expect(h2 == h, s"kg_batch: second MERGE changed the tables ($h -> $h2)")
      val (p, rc) = precisionRecall(edges, r.registry)
      failures ++= Check.expect(p >= 0.95 && rc >= 0.95,
        f"kg_batch: planted-fact precision $p%.4f / recall $rc%.4f below 0.95")
    }
    val lsh = op.caps.get("link.lsh")
    Group(Seq(op), Fs.bytesUnder(out), inputBytes, failures, h,
      lsh.map(m => Map("link.lsh.dropped_rows" -> m.getOrElse("dropped_rows", 0L).toDouble))
        .getOrElse(Map.empty))
  }

  /** Precision and recall of `age` facts for the persons of a seeded sample
    * of conversations. Every conversation plants its person's age as
    * 18 + conv % 60, and every surface form of a person must resolve to the
    * GUID the registry gives the person's canonical name. */
  private def precisionRecall(edges: DataFrame, registry: DataFrame): (Double, Double) = {
    val rnd = new scala.util.Random(seed ^ 0x5EED)
    val sample = Seq.fill(SampleConvs)(rnd.nextInt(Convs).toLong).distinct
    val names = sample.map(c => Link.normKeyScala(canonicalPerson(c))).distinct
    val guidOf: Map[String, String] = registry
      .filter($"entity_type" === "Person" && $"norm_key".isin(names: _*))
      .select($"norm_key", $"guid").as[(String, String)].collect().toMap
    val nameSet = names.toSet
    val truth: Set[(Option[String], Long)] = (0L until Convs.toLong).flatMap { c =>
      val n = Link.normKeyScala(canonicalPerson(c))
      if (nameSet(n)) Some((guidOf.get(n), 18L + c % 60)) else None
    }.toSet
    val guids = guidOf.values.toSeq.distinct
    val found: Set[(Option[String], Long)] = edges
      .filter($"pred" === "age" && $"subj_guid".isin(guids: _*))
      .select($"subj_guid", $"obj_int64").as[(String, Long)].collect()
      .map { case (g, a) => (Some(g): Option[String], a) }.toSet
    val hit = (truth & found).size.toDouble
    (if (found.isEmpty) 0.0 else hit / found.size, if (truth.isEmpty) 0.0 else hit / truth.size)
  }

  /** The canonical person `Transcripts.synthetic` plants in conversation
    * `conv` (its generator keeps this private; the formula is restated
    * here as the ground truth). */
  private def canonicalPerson(conv: Long): String = {
    val pool = math.max(4, gen.nConvs / 10)
    val i = (((conv * 2654435761L + gen.seed) & 0x7fffffffL) % pool).toInt
    s"${FirstNames((i * 7) % FirstNames.size)} ${LastNames((i * 13) % LastNames.size)}"
  }
}

object KgBatch {
  /** Conversations per corpus: about 46k turns, 5.5 MB of parquet. */
  val Convs = 3000
  val SampleConvs = 50
  val NodeKey = Seq("guid", "entity_type")

  private val FirstNames = Vector("Robert", "Bob", "Alice", "Carol", "David",
    "Eve", "Frank", "Grace", "Heidi", "Ivan", "Judy", "Mallory", "Niaj",
    "Olivia", "Peggy", "Rupert", "Sybil", "Trent", "Victor", "Wendy")
  private val LastNames = Vector("Smith", "Jones", "Lee", "Garcia", "Chen",
    "Patel", "Kim", "Nguyen", "Brown", "Davis", "Miller", "Wilson")
}
