package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.kg.{Link, Pipeline, Transcripts}

/** Scaling-efficiency bench (BASELINE.md protocol): the full KG pipeline
  * (scan → reconstruct → extract → link → canonicalize → materialize) over
  * the seeded synthetic transcript corpus, run at two parallelism levels on
  * the SAME input — the sandbox stand-in for N vs 4N executors. Reports
  * triples/sec at both and the scaling efficiency `(tps_hi/tps_lo)/4`;
  * appends a row to BENCH/BASELINE.md.
  *
  * Usage: runMain graft.KgBench [nConvs] [turnsPerConv] [loCores] [hiCores]
  */
object KgBench {

  // 4 shuffle partitions per core: bounds per-task sort/spill chunks at
  // large corpora; AQE coalesces small stages back down
  private def session(cores: Int): SparkSession =
    Sessions.local(cores, Some(s"graft-kgbench-$cores"),
      shufflePartitions = Some(math.max(cores * 4, 32)),
      smallScanSplits = true)

  def main(args: Array[String]): Unit = {
    val nConvs = args.lift(0).map(_.toInt).getOrElse(200000)
    val turnsPerConv = args.lift(1).map(_.toInt).getOrElse(10)
    val loCores = args.lift(2).map(_.toInt).getOrElse(8)
    val hiCores = args.lift(3).map(_.toInt).getOrElse(32)
    val cfg = Transcripts.GenConfig(seed = 42L, nConvs = nConvs,
      turnsPerConv = turnsPerConv, hotConvFraction = 0.001, replayFraction = 0.05)

    val corpusDir = s"/tmp/graft_bench_corpus_${nConvs}_$turnsPerConv"
    val gen = session(hiCores)
    if (!Files.exists(Paths.get(corpusDir, "_SUCCESS"))) {
      Transcripts.synthetic(gen, cfg, partitions = hiCores * 4)
        .write.mode("overwrite").parquet(corpusDir)
    }
    val nTurns = gen.read.parquet(corpusDir).count()
    // warm-up at tiny scale: codegen/JIT for every pipeline stage
    runOnce(gen, corpusDir, sample = true)
    gen.stop()

    // This sandbox host shows bursty hypervisor CPU steal (observed in
    // /proc/stat and 15x-variance young-GC pauses), so each level runs
    // `reps` times and we take the MIN — the standard noisy-host protocol.
    val reps = args.lift(4).map(_.toInt).getOrElse(3)
    // staging-table mode (SPARK_GRAFT_STAGE=1): the raw-triple stage
    // boundary becomes a parquet staging table instead of a block-manager
    // cache — constant memory footprint at any corpus size (the fix for the
    // per-core throughput degradation past ~20M cached turns)
    val staging = sys.env.get("SPARK_GRAFT_STAGE").contains("1")
    // per-run staging dir, deleted at exit: concurrent runs never share (or
    // recursively delete) each other's staging tables
    val stageDir = Files.createTempDirectory(s"graft-kgbench-stage-$nConvs-")
    def wipeStage(): Unit = if (staging) {
      graft.kg.Materialize.deleteDirRecursive(stageDir)
      Files.createDirectories(stageDir)
      ()
    }
    if (staging) sys.props("graft.stage.dir") = stageDir.toString

    def timed(cores: Int): (Double, Long) = {
      val s = session(cores)
      runOnce(s, corpusDir, sample = true) // per-session codegen warm-up
      var best = Double.MaxValue
      var triples = 0L
      for (_ <- 1 to reps) {
        // free checkpointed blocks from the previous rep — the pipeline's
        // stage-boundary localCheckpoints otherwise accumulate in the block
        // manager for the session lifetime and skew later reps/sessions
        s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
        wipeStage() // drop the previous rep's staging tables
        val t0 = System.nanoTime()
        triples = runOnce(s, corpusDir, sample = false)
        best = math.min(best, (System.nanoTime() - t0) / 1e9)
      }
      s.stop()
      (best, triples)
    }

    val ((loSecs, loTriples), (hiSecs, hiTriples)) =
      try (timed(loCores), timed(hiCores))
      finally graft.kg.Materialize.deleteDirRecursive(stageDir)
    require(loTriples == hiTriples, s"parallelism changed results: $loTriples vs $hiTriples")

    val tpsLo = loTriples / loSecs
    val tpsHi = hiTriples / hiSecs
    val turnsPsHi = nTurns / hiSecs
    val eff = (tpsHi / tpsLo) / (hiCores.toDouble / loCores)
    val mode = if (staging) "staging" else "cached"
    println(f"""{"metric":"kg_tps_local$hiCores","value":$tpsHi%.1f,"unit":"triples/sec","turns":$nTurns,"triples":$hiTriples,"turns_per_sec":$turnsPsHi%.1f,"secs_local$loCores":$loSecs%.2f,"secs_local$hiCores":$hiSecs%.2f,"tps_local$loCores":$tpsLo%.1f,"scaling_efficiency":$eff%.3f,"stage_boundary":"$mode"}""")

    val row =
      f"""| ${java.time.LocalDate.now} | $nTurns turns / $hiTriples triples ($mode) | local[$loCores]: $loSecs%.1f s ($tpsLo%.0f t/s) | local[$hiCores]: $hiSecs%.1f s ($tpsHi%.0f t/s) | $eff%.3f |"""
    val benchMd = Paths.get("BENCH/BASELINE.md")
    Files.createDirectories(benchMd.getParent)
    if (!Files.exists(benchMd)) {
      Files.writeString(benchMd,
        """# BENCH/BASELINE — measured KG-pipeline scaling (sandbox protocol)
          |
          |Full pipeline (parquet scan → reconstruct → extract → link →
          |canonicalize → materialize via snapshot MERGE) on the seeded synthetic
          |transcript corpus; same input at both parallelism levels (N vs 4N
          |stand-in per the task brief). Efficiency = (tps_hi / tps_lo) / 4.
          |Gate: >= 0.8 (BASELINE.json).
          |
          || date | corpus | low parallelism | high parallelism | scaling efficiency |
          ||---|---|---|---|---|
          |""".stripMargin)
    }
    Files.writeString(benchMd, Files.readString(benchMd) + row + "\n")
  }

  /** One full pipeline run; returns emitted-triple count. `sample=true` runs
    * on a 2%% slice for warm-up. */
  private def runOnce(spark: SparkSession, corpusDir: String, sample: Boolean): Long = {
    import spark.implicits._
    val all = spark.read.parquet(corpusDir)
    val turns = (if (sample) all.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.hash($"conv_id"), org.apache.spark.sql.functions.lit(50)) === 0)
    else all).as[graft.model.Model.Turn]
    val result = Pipeline.run(turns, Pipeline.syntheticDict(spark))
    val out = Files.createTempDirectory("graft-kgbench")
    try graft.kg.Materialize.mergeSnapshot(spark, s"$out/edges", result.edges,
      graft.kg.Materialize.edgeKey).count()
    finally {
      result.close()
      graft.kg.Materialize.deleteDirRecursive(out)
    }
  }
}
