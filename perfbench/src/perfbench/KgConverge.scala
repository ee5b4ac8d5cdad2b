package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.kg.{Incremental, Link, Materialize, Pipeline}
import graft.model.Model.Turn

/** kg_converge: megamind's eventual-consistency loop as a closed loop with
  * one client. Seeded transcript batches arrive one after another; each is
  * handed to `Incremental.run` (exact linking, fuzzy off) and then to
  * `Incremental.resolveDisjoint` (exact same-as, Jaccard 0.8, Person)
  * before the next batch is handed over. One operation is one batch; one
  * unit of work is a round of [[KgConverge.Batches]] batches into fresh
  * tables, checked at its end against a one-shot build of all batches.
  *
  * Person names use the digit-word encoding of
  * `Transcripts.fromTestdataResolve`: a small vocabulary with uniform
  * document frequency, where a name and its `" jr"` alias have trigram
  * Jaccard above 0.9 and distinct names stay below 0.75. Aliases are
  * planted across batch boundaries in both directions, so every batch
  * rewrites rows that earlier batches committed. */
final class KgConverge(ctx: Ctx, seed: Long) extends Workload {
  import KgConverge._
  val name = "kg_converge"
  private val spark = ctx.spark
  import spark.implicits._

  private val resolveCfg = Link.Config(exactSameAs = true, jaccardThreshold = 0.8,
    fuzzyTypes = Seq("Person"))
  private val dict = Pipeline.emptyDict(spark)
  private var batches: IndexedSeq[String] = IndexedSeq.empty
  private var batchBytes: IndexedSeq[Long] = IndexedSeq.empty
  private var reference = ""

  def prepare(dir: Path): Unit = {
    batches = (0 until Batches).map { b =>
      val p = Fs.path(dir, f"batch-$b%02d")
      generate(spark, seed, b).coalesce(1).write.parquet(p)
      p
    }
    batchBytes = batches.map(p => Fs.bytesUnder(java.nio.file.Paths.get(p)))
  }

  /** The reference is one build over every batch, then a full rediscovery.
    * It is also the full-size warm-up: it runs the pipeline, the MERGE and
    * the resolver over the whole round's input. */
  override def warmUp(): Seq[Group] = {
    val ref = ctx.freshDir("kg_converge-reference").toString
    val all = batches.map(p => spark.read.parquet(p).as[Turn]).reduce(_ union _)
    val op = ctx.measure(TurnsPerBatch * Batches, batchBytes.sum) {
      Pipeline.runAndMerge(all, dict, ref, Link.Config(fuzzy = false)).close()
      Incremental.resolveDisjoint(spark, ref, resolveCfg, fullRediscovery = true)
    }
    reference = tableHash(ref)
    Seq(Group(Seq(op), 0L, batchBytes.sum, Nil, reference))
  }

  private def tableHash(out: String): String =
    Check.hash(Materialize.readTable(spark, s"$out/edges").get) + "/" +
      Check.hash(Materialize.readTable(spark, s"$out/nodes").get)

  private def ingest(out: String, b: Int): Unit =
    Incremental.run(spark.read.parquet(batches(b)).as[Turn], dict, out, s"batch-$b",
      nBuckets = Buckets, linkCfg = Link.Config(fuzzy = false))

  private def resolve(out: String): Unit =
    Incremental.resolveDisjoint(spark, out, resolveCfg)

  private def manifestDirs(out: String): Int =
    Seq("edges", "nodes").flatMap(t => Materialize.currentManifest(s"$out/$t"))
      .map(_.allDirs.size).sum

  private def round(tag: String)(batch: (String, Int) => Unit): (String, Seq[Op], Seq[Int]) = {
    val out = ctx.freshDir(tag).toString
    val ops = (0 until Batches).map { b =>
      val op = ctx.measure(TurnsPerBatch, batchBytes(b))(batch(out, b))
      (op, manifestDirs(out))
    }
    (out, ops.map(_._1), ops.map(_._2))
  }

  def run(): Group = {
    val (out, ops, _) = round("kg_converge-out") { (o, b) => ingest(o, b); resolve(o) }
    finish(out, ops, Map.empty)
  }

  def traced(tr: Tracer): Group = {
    val (out, ops, widths) = round("kg_converge-traced") { (o, b) =>
      tr.span("incremental.ingest")(ingest(o, b))
      tr.span("resolve")(resolve(o))
    }
    val m = Incremental.readMetrics(spark, out).filter($"stage" === "resolve")
      .groupBy($"metric").agg(collect_list($"value").as("v"))
      .as[(String, Seq[Long])].collect().toMap
    def med(k: String) = Stats.median(m.getOrElse(k, Seq(0L)).map(_.toDouble))
    val candidates = ops.flatMap(_.caps.get("simjoin.link.exact.delta"))
      .map(_.getOrElse("candidates", 0L)).sum.toDouble
    val rewritten = m.getOrElse("rewritten_entities", Nil).sum.toDouble
    val counts = Map(
      "link.sameas.candidates" -> candidates,
      "link.sameas.pairs" -> rewritten,
      "link.sameas.yield" -> (if (candidates > 0) rewritten / candidates else 0.0),
      "resolve.touched" -> med("touched_entities"),
      "resolve.total" -> m.getOrElse("total_entities", Seq(0L)).max.toDouble,
      "resolve.rewritten" -> med("rewritten_entities"),
      "resolve.scan_ms" -> med("scan_ms"),
      "resolve.discover_ms" -> med("discover_ms"),
      "resolve.rewrite_ms" -> med("rewrite_ms"),
      "resolve.watermark_ms" -> med("watermark_ms"),
      "materialize.bytes_written" -> ops.map(_.counts.bytes).sum.toDouble / ops.size,
      "materialize.files_written" -> ops.map(_.counts.files).sum.toDouble / ops.size,
      "materialize.manifest_dirs" -> widths.sum.toDouble / widths.size)
    finish(out, ops, counts).copy(sameWorkS = Some(ops.map(_.wallS).sum))
  }

  private def finish(out: String, ops: Seq[Op], counts: Map[String, Double]): Group = {
    val h = tableHash(out)
    val unmerged = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person" && $"name".endsWith(" jr")).count()
    val failures =
      Check.expect(h == reference, s"kg_converge: converged hash $h differs from one-shot $reference") ++
        Check.expect(unmerged == 0, s"kg_converge: $unmerged planted aliases stay unmerged")
    val live = Seq("edges", "nodes", "_resolve")
      .map(t => Fs.bytesUnder(java.nio.file.Paths.get(out, t))).sum
    Group(ops, live, batchBytes.sum, failures, h, counts)
  }
}

object KgConverge {
  val Batches = 3
  val ConvsPerBatch = 240
  /** Persons introduced per batch; every one gets a base-name mention. */
  val PersonsPerBatch = 80
  val TurnsPerBatch: Long = ConvsPerBatch * 3L
  val Buckets = 1

  private val Nations = Vector("france", "japan", "brazil", "kenya", "canada", "peru")

  /** Digit-word name of a person id: digit d at position p becomes the
    * 7-letter word y x x y y x y, with x = 'a' + p and y = 'f' + d. */
  def nameOf(pid: Long): String =
    (4 to 0 by -1).map { p =>
      val x = ('a' + p).toChar
      val y = ('f' + ((pid / math.pow(10, p).toLong) % 10).toInt).toChar
      s"$y$x$x$y$y$x$y"
    }.mkString(" ")

  /** Batch `b` of a round: conversation k mentions the base name of one of
    * this batch's persons (k % 3 == 2), the alias of a person introduced one
    * batch earlier (k % 3 == 0) or one batch later (k % 3 == 1). The seed
    * picks where in the five-digit id space the round's persons sit. */
  def generate(spark: SparkSession, seed: Long, b: Int): DataFrame = {
    import spark.implicits._
    val offset = Math.floorMod(seed * 7919L, 100000L - Batches * PersonsPerBatch)
    val t0 = 1700000000000L + b * 3600000L
    val rows = (0 until ConvsPerBatch).flatMap { k =>
      val slot = (k / 3) % PersonsPerBatch
      val (pb, alias) = k % 3 match {
        case 2 => (b, false)
        case 0 => (if (b > 0) b - 1 else b + 1, true)
        case _ => (if (b < Batches - 1) b + 1 else b - 1, true)
      }
      val pid = offset + pb.toLong * PersonsPerBatch + slot
      val surface = if (alias) nameOf(pid) + " jr" else nameOf(pid)
      val conv = s"b$b-c$k"
      Seq(
        (conv, 0, "user", s"My name is $surface.", "", new java.sql.Timestamp(t0 + k * 10L)),
        (conv, 1, "user", s"$surface lives in ${Nations((pid % Nations.size).toInt)}.", "",
          new java.sql.Timestamp(t0 + k * 10L + 1)),
        (conv, 2, "user", s"$surface is ${pid % 60 + 18} years old.", "",
          new java.sql.Timestamp(t0 + k * 10L + 2)))
    }
    rows.toDF("conv_id", "turn_idx", "role", "text", "tool", "ts")
  }
}
