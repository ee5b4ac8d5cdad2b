package graft.kg

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.model.Model._

/** The P/R ≥ 0.95 gate (BASELINE.json "metric"): distributed pipeline vs the
  * independent in-memory oracle on the seeded synthetic corpus. */
class PipelineOracleSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private val cfg = Transcripts.GenConfig(seed = 42L, nConvs = 300,
    turnsPerConv = 8, hotConvFraction = 0.02, replayFraction = 0.05)

  private def dictMap: Map[(String, String), String] = {
    val lastNames = Seq("Smith", "Jones", "Lee", "Garcia", "Chen", "Patel",
      "Kim", "Nguyen", "Brown", "Davis", "Miller", "Wilson")
    (for {
      (variant, canonical) <- Transcripts.aliasPairs
      ln <- lastNames
    } yield ("Person", s"$variant $ln".toLowerCase) -> s"$canonical $ln".toLowerCase).toMap
  }

  private def collectEdges(df: org.apache.spark.sql.DataFrame): Set[Oracle.EdgeRow] =
    df.collect().map { r =>
      Oracle.EdgeRow(
        r.getAs[String]("subj_type"), r.getAs[String]("subj_guid"),
        r.getAs[String]("pred"), r.getAs[String]("obj_kind"),
        Option(r.getAs[String]("obj_type")), Option(r.getAs[String]("obj_guid")),
        Option(r.getAs[String]("obj_string")),
        Option(r.getAs[java.lang.Long]("obj_int64")).map(_.longValue),
        Option(r.getAs[java.lang.Double]("obj_float64")).map(_.doubleValue))
    }.toSet

  test("pipeline P/R >= 0.95 vs oracle on the synthetic corpus (incl. fuzzy linking)") {
    import spark.implicits._
    val turns = Transcripts.synthetic(spark, cfg, partitions = 4)
    val result = Pipeline.run(turns, Pipeline.syntheticDict(spark))
    val got = collectEdges(result.edges)

    val turnsLocal = turns.collect().toSeq
    val (expected, expectedNodes) = Oracle.run(turnsLocal, dictMap)

    val inter = got.intersect(expected).size.toDouble
    val precision = inter / got.size
    val recall = inter / expected.size
    info(f"edges: pipeline=${got.size} oracle=${expected.size} P=$precision%.4f R=$recall%.4f")
    assert(precision >= 0.95, f"precision $precision%.4f")
    assert(recall >= 0.95, f"recall $recall%.4f")

    // nodes side
    val gotNodes = result.nodes.collect()
      .map(r => Oracle.NodeRow(r.getAs[String]("guid"), r.getAs[String]("entity_type"),
        r.getAs[String]("name"))).toSet
    val nInter = gotNodes.intersect(expectedNodes).size.toDouble
    info(f"nodes: pipeline=${gotNodes.size} oracle=${expectedNodes.size}")
    assert(nInter / gotNodes.size >= 0.95)
    assert(nInter / expectedNodes.size >= 0.95)
  }

  test("exact path (fuzzy off) matches oracle exactly (P = R = 1.0)") {
    val turns = Transcripts.synthetic(spark,
      cfg.copy(nConvs = 120), partitions = 4)
    def run() = Pipeline.run(turns, Pipeline.syntheticDict(spark),
      Link.Config(fuzzy = false))
    val result = run()
    val got = collectEdges(result.edges)
    val (expected, _) = Oracle.run(turns.collect().toSeq, dictMap, fuzzy = false)
    assert(got == expected)
    // distributed mode (the label joins without a broadcast hint): the same
    // edge and node rows
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val dist = TestSpark.distributed(run())
    assert(rows(dist.edges) == rows(result.edges))
    assert(rows(dist.nodes) == rows(result.nodes))
  }

  test("rerun convergence: merging the same corpus twice is a no-op") {
    val out = Files.createTempDirectory("graft-kg").toString
    val turns = Transcripts.synthetic(spark, cfg.copy(nConvs = 80), partitions = 4)
    val dict = Pipeline.syntheticDict(spark)
    val r1 = Pipeline.runAndMerge(turns, dict, out)
    val e1 = collectEdges(r1.edges)
    val r2 = Pipeline.runAndMerge(turns, dict, out)
    val e2 = collectEdges(r2.edges)
    assert(e1 == e2)
  }

  test("batch-order independence: A then B == B then A (megamind's convergence claim)") {
    import spark.implicits._
    val turns = Transcripts.synthetic(spark, cfg.copy(nConvs = 80), partitions = 4)
    val dict = Pipeline.syntheticDict(spark)
    val a = turns.filter($"conv_id" < "conv-000040")
    val b = turns.filter($"conv_id" >= "conv-000040")

    val outAB = Files.createTempDirectory("graft-ab").toString
    Pipeline.runAndMerge(a, dict, outAB, Link.Config(fuzzy = false))
    Pipeline.runAndMerge(b, dict, outAB, Link.Config(fuzzy = false))

    val outBA = Files.createTempDirectory("graft-ba").toString
    Pipeline.runAndMerge(b, dict, outBA, Link.Config(fuzzy = false))
    Pipeline.runAndMerge(a, dict, outBA, Link.Config(fuzzy = false))

    val ab = collectEdges(Materialize.readTable(spark, s"$outAB/edges").get)
    val ba = collectEdges(Materialize.readTable(spark, s"$outBA/edges").get)
    assert(ab == ba)
  }
}
