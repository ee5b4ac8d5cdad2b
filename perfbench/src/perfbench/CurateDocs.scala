package perfbench

import java.nio.file.Path

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Contamination, Curate, Dedup, TextStats}

/** curate_docs: `ops.Curate.curate` over a seeded document corpus in the
  * style of `graft.ScaleFixture` (a shared vocabulary plus per-document
  * hapax tokens, and a near-duplicate planted every 100th document) against
  * a held-out benchmark slice. One operation is one curate call whose
  * decision table is written to a fresh directory. No `kg.*` code runs. */
final class CurateDocs(ctx: Ctx, seed: Long) extends Workload {
  import CurateDocs._
  val name = "curate_docs"
  private val spark = ctx.spark
  import spark.implicits._

  private var docsDir: String = _
  private var benchDir: String = _
  private var inputBytes = 0L
  private var reference: Option[String] = None

  def prepare(dir: Path): Unit = {
    docsDir = Fs.path(dir, "docs")
    benchDir = Fs.path(dir, "benchmark")
    generate(spark, seed, 0L, Docs, ctx.cores * 2).write.parquet(docsDir)
    // held out: the same generator past the corpus' id range, plus a few
    // benchmark items leaked verbatim into the corpus
    val leaked = spark.read.parquet(docsDir)
      .filter(pmod(xxhash64($"doc_id", lit(seed)), lit(LeakEvery)) === 0)
      .select(($"doc_id" + Docs * 2).as("doc_id"), $"text")
    generate(spark, seed, Docs, BenchDocs, 1).unionByName(leaked).coalesce(1)
      .write.parquet(benchDir)
    inputBytes = Fs.bytesUnder(dir.resolve("docs")) + Fs.bytesUnder(dir.resolve("benchmark"))
  }

  /** One warm-up unit: this workload runs only inside kg_batch's traced run,
    * which must end within the run time limit. */
  override def warmUp(): Seq[Group] = Seq(run())

  private def docs = spark.read.parquet(docsDir)
  private def bench = spark.read.parquet(benchDir)

  def run(): Group = {
    val out = ctx.freshDir("curate_docs-out")
    val op = ctx.measure(Docs, inputBytes) {
      Curate.curate(docs, bench).write.parquet(Fs.path(out, "decisions"))
    }
    finish(out, op, Map.empty)
  }

  /** The curate stages called one by one, then the real call. The
    * `curate.total` span repeats the untraced work; the standalone stage
    * spans before it give each stage its own numbers. */
  def traced(tr: Tracer): Group = {
    val out = ctx.freshDir("curate_docs-traced")
    def materialize(df: DataFrame): Unit = {
      val cp = df.localCheckpoint(eager = true)
      tr.rows(cp.count())
    }
    var totalS = 0.0
    val op = ctx.measure(Docs, inputBytes) {
      tr.span("curate.quality")(materialize(TextStats.quality(docs)))
      tr.span("curate.repetition")(materialize(TextStats.repetitionStats(docs)))
      tr.span("curate.neardup") {
        materialize(Dedup.dedupGroups(Dedup.ngramJaccardPairs(docs, 3, 0.5)))
      }
      tr.span("curate.contamination") {
        val m = Contamination.hitCountsManaged(docs, bench, 4)
        materialize(m.pairs)
        m.free()
      }
      val t0 = System.nanoTime()
      tr.span("curate.total") {
        val decisions = Curate.curate(docs, bench)
        tr.span("curate.assemble")(decisions.write.parquet(Fs.path(out, "decisions")))
      }
      totalS = (System.nanoTime() - t0) / 1e9
    }
    finish(out, op, Map.empty).copy(sameWorkS = Some(totalS))
  }

  private def finish(out: Path, op: Op, counts: Map[String, Double]): Group = {
    val dec = spark.read.parquet(Fs.path(out, "decisions"))
    val h = Check.hash(dec)
    if (reference.isEmpty) reference = Some(h)
    val kept = dec.filter($"kept").count()
    val missed = dec.filter($"doc_id" % 100 === 99 && $"keep_neardup").count()
    val failures =
      Check.expect(reference.contains(h), s"curate_docs: decision hash $h differs from ${reference.get}") ++
        Check.expect(missed == 0, s"curate_docs: $missed planted near-duplicates kept")
    val cand = op.caps.get("simjoin.ngram").map(_.getOrElse("candidates", 0L))
    Group(Seq(op), Fs.bytesUnder(out), inputBytes, failures, h,
      counts ++ Map("curate.kept" -> kept.toDouble) ++
        cand.map(c => "simjoin.ngram.candidates" -> c.toDouble))
  }
}

object CurateDocs {
  val Docs = 20000L
  val BenchDocs = 400L
  val LeakEvery = 500
  val Vocab = 400

  private def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** n-th draw of a document's stream, uniform in [0, bound). */
  private def draw(seed: Long, id: Long, n: Int, bound: Int): Int =
    ((splitmix64(splitmix64(id ^ (seed * 0x632BE59BD9B4E019L)) ^ n.toLong) >>> 1) % bound).toInt

  private def vocab(seed: Long): Array[String] =
    Array.tabulate(Vocab)(i => "w" + java.lang.Long.toHexString(splitmix64(seed ^ (i + 1L)) >>> 24))

  /** Words of a document: 10-100 words, about one in five a hapax token.
    * Predecessors of near-duplicate plants get at least 40 words, so two
    * substituted words leave their trigram Jaccard above 0.7. */
  private def words(seed: Long, id: Long, v: Array[String]): Array[String] = {
    val len = if (id % 100 == 98) 40 + draw(seed, id, 0, 61) else 10 + draw(seed, id, 0, 91)
    Array.tabulate(len) { i =>
      if (draw(seed, id, 0x3000 + i, 5) == 0)
        "u" + java.lang.Long.toHexString(splitmix64(splitmix64(id ^ seed) ^ (0x2000L + i)) >>> 16)
      else v(draw(seed, id, 1 + i, v.length))
    }
  }

  def text(seed: Long, id: Long, v: Array[String]): String =
    if (id % 100 == 99) {
      val w = words(seed, id - 1, v).clone()
      w(draw(seed, id, 9001, w.length)) = v(draw(seed, id, 9002, v.length))
      w(draw(seed, id, 9003, w.length)) = v(draw(seed, id, 9004, v.length))
      w.mkString(" ")
    } else words(seed, id, v).mkString(" ")

  def generate(spark: SparkSession, seed: Long, from: Long, n: Long,
      partitions: Int): DataFrame = {
    import spark.implicits._
    val v = vocab(seed)
    spark.range(from, from + n, 1, partitions).as[Long]
      .map(id => (id, text(seed, id, v)))
      .toDF("doc_id", "text")
  }
}
