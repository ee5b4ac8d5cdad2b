package graft.kg

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class IncrementalSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark
  private val cfg = Transcripts.GenConfig(seed = 11L, nConvs = 80, turnsPerConv = 8)

  private def edgeSet(df: org.apache.spark.sql.DataFrame): Set[String] =
    df.selectExpr("concat_ws('|', subj_type, subj_guid, pred, obj_kind, " +
        "coalesce(obj_type,''), coalesce(obj_guid,''), coalesce(obj_string,''), " +
        "coalesce(cast(obj_int64 as string),''), coalesce(cast(obj_float64 as string),''))")
      .collect().map(_.getString(0)).toSet

  test("kill-and-resume: failed run resumes from checkpoints; output equals one-shot run") {
    val turns = Transcripts.synthetic(spark, cfg, partitions = 4)
    val dict = Pipeline.emptyDict(spark)

    // one-shot reference
    val ref = Pipeline.run(turns, dict, Link.Config(fuzzy = false))
    val refEdges = edgeSet(ref.edges)

    // incremental run killed at bucket 3
    val out = Files.createTempDirectory("graft-inc").toString
    val runId = "run-1"
    intercept[RuntimeException] {
      Incremental.run(turns, dict, out, runId, nBuckets = 6,
        failAtBucket = Some(3))
    }
    val doneBefore = Incremental.completedBuckets(spark, out, runId)
    assert(doneBefore == Set(0, 1, 2), s"got $doneBefore")

    // resume: only the remaining buckets run
    val processed = Incremental.run(turns, dict, out, runId, nBuckets = 6)
    assert(processed == 3)
    val finalEdges = edgeSet(Materialize.readTable(spark, s"$out/edges").get)
    assert(finalEdges == refEdges)

    // second resume is a no-op
    assert(Incremental.run(turns, dict, out, runId, nBuckets = 6) == 0)

    // lineage/metrics recorded per partition
    val cps = Incremental.readCheckpoints(spark, out)
    assert(cps.filter("status = 'done'").count() == 6)
    assert(Incremental.readMetrics(spark, out)
      .filter("metric = 'rows_in'").count() == 6)
  }

  test("disjoint-resolver compaction merges fuzzy aliases across batches, idempotently") {
    import spark.implicits._
    // two batches that each mention the same person with a typo variant —
    // per-batch exact linking keeps them distinct; the resolver merges them
    val ts0 = new java.sql.Timestamp(0L)
    val b1 = Seq(graft.model.Model.Turn("c1", 0, "user", "My name is Alice Smith.", "", ts0),
      graft.model.Model.Turn("c1", 1, "user", "Alice Smith is 30 years old.", "", ts0)).toDS()
    val b2 = Seq(graft.model.Model.Turn("c2", 0, "user", "My name is Alice Smit.", "", ts0)).toDS()

    val out = Files.createTempDirectory("graft-dr").toString
    val dict = Pipeline.emptyDict(spark)
    Incremental.run(b1, dict, out, "r1", nBuckets = 1)
    Incremental.run(b2, dict, out, "r2", nBuckets = 1)

    val before = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").count()
    assert(before == 2) // not yet resolved: eventual consistency in flight

    Incremental.resolveDisjoint(spark, out)
    val nodes = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").collect()
    assert(nodes.length == 1)
    assert(nodes.head.getAs[String]("name") == "alice smit") // min canonical key
    val canonGuid = Link.guidForScala("Person", "alice smit")
    assert(nodes.head.getAs[String]("guid") == canonGuid)

    // every edge rewritten to the canonical guid
    val edges = Materialize.readTable(spark, s"$out/edges").get.collect()
    assert(edges.forall(_.getAs[String]("subj_guid") == canonGuid))

    // resolver idempotence: second run changes nothing
    val snapBefore = Materialize.currentSnapshot(s"$out/nodes")
    Incremental.resolveDisjoint(spark, out)
    val nodes2 = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").count()
    assert(nodes2 == 1)
  }

  test("delta resolver: resolve(b1) then delta-resolve(b2) == one-shot resolve(b1 ∪ b2)") {
    import spark.implicits._
    val ts0 = new java.sql.Timestamp(0L)
    def turn(c: String, i: Int, text: String) =
      graft.model.Model.Turn(c, i, "user", text, "", ts0)
    // chain-free fuzzy corpus: typo variants split across the batches (the
    // delta==full equivalence is exactly the per-batch-resolve semantics the
    // architecture already has; transitive chains through merged-away names
    // resolve at the batch boundary in both paths for this corpus)
    val b1 = Seq(
      turn("c1", 0, "My name is Bob Johnson."),
      turn("c1", 1, "Bob Johnson is 30 years old."),
      turn("c2", 0, "My name is Carol White."),
      turn("c3", 0, "My name is Erin Carter."))
    val b2 = Seq(
      turn("c4", 0, "My name is Bob Johnso."),   // fuzzy-merges with b1
      turn("c5", 0, "My name is Erin Carte."),   // fuzzy-merges with b1
      turn("c6", 0, "My name is Dave Black."),   // genuinely new singleton
      turn("c7", 0, "Carol White is 41 years old.")) // exact re-mention: not new
    // exact PPJoin discovery: recall 1.0 by construction, so the expected
    // merge set is deterministic (the LSH delta split is covered by
    // LinkSpec's delta-vs-full comparison)
    val cfg = Link.Config(exactSameAs = true)

    // delta path: per-batch ingest + resolve
    val outD = Files.createTempDirectory("graft-delta-r").toString
    val dict = Pipeline.emptyDict(spark)
    Incremental.run(b1.toDS(), dict, outD, "rb1", nBuckets = 1)
    val s1 = Incremental.resolveDisjoint(spark, outD, cfg)
    assert(s1.touched == s1.total && s1.total > 0) // first pass: full
    Incremental.run(b2.toDS(), dict, outD, "rb2", nBuckets = 1)
    val s2 = Incremental.resolveDisjoint(spark, outD, cfg)
    // entity-granular: only b2's genuinely-new names are touched —
    // bob johnso, erin carte, dave black (carol white was already resolved)
    assert(s2.touched == 3, s"touched ${s2.touched}")
    assert(s2.touched < s2.total, s"no reduction: $s2")
    // two merges; the shorter variant is the lexicographic-min component
    // rep, so each b1 original is the entity whose guid gets rewritten
    assert(s2.rewritten == 2)

    // one-shot reference: everything in one batch, one full resolve
    val outF = Files.createTempDirectory("graft-full-r").toString
    Incremental.run((b1 ++ b2).toDS(), dict, outF, "rf", nBuckets = 1)
    Incremental.resolveDisjoint(spark, outF, cfg)

    assert(edgeSet(Materialize.readTable(spark, s"$outD/edges").get) ==
      edgeSet(Materialize.readTable(spark, s"$outF/edges").get))
    def nodeSet(t: String) = Materialize.readTable(spark, t).get
      .select("guid", "entity_type", "name").collect()
      .map(_.toSeq.mkString("|")).toSet
    assert(nodeSet(s"$outD/nodes") == nodeSet(s"$outF/nodes"))

    // third resolve: zero touched, O(scan) no-op
    val s3 = Incremental.resolveDisjoint(spark, outD, cfg)
    assert(s3.touched == 0)

    // config change voids the converged-keys invariant -> full rediscovery
    val s4 = Incremental.resolveDisjoint(spark, outD,
      cfg.copy(jaccardThreshold = 0.65))
    assert(s4.touched == s4.total && s4.total > 0)
  }

  test("resolve corpus: bucketed exact-link + exact resolveDisjoint equals the one-shot fuzzy pipeline") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    assume(java.nio.file.Files.exists(java.nio.file.Paths.get(dir)))
    val turns = Transcripts.fromTestdataResolve(spark, dir)
    val resolveCfg = Link.Config(fuzzy = true, exactSameAs = true,
      jaccardThreshold = 0.8, fuzzyTypes = Seq("Person"))

    // one-shot fuzzy reference (same exact same-as join, single batch)
    val ref = Pipeline.run(turns, Pipeline.emptyDict(spark), resolveCfg)
    val refEdges = edgeSet(ref.edges)
    val refPersons = ref.nodes.filter($"entity_type" === "Person").count()
    ref.close()

    // bucketed runs link exactly (fuzzy off): " jr" variants stay split...
    val out = java.nio.file.Files.createTempDirectory("graft-resolve").toString
    Incremental.run(turns, Pipeline.emptyDict(spark), out, "r", nBuckets = 3,
      linkCfg = Link.Config(fuzzy = false), recordCounts = false)
    val personsBefore = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").count()
    assert(personsBefore > refPersons) // divergence is real pre-resolve

    // ...until the Disjoint-Resolver compaction converges the graph
    Incremental.resolveDisjoint(spark, out, resolveCfg)
    val gotEdges = edgeSet(Materialize.readTable(spark, s"$out/edges").get)
    val personsAfter = Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person").count()
    assert(gotEdges == refEdges)
    assert(personsAfter == refPersons)
  }

  // -- the resolver's derived rewrite + watermark ----------------------------

  private val aliasCfg = Link.Config(exactSameAs = true, jaccardThreshold = 0.8,
    fuzzyTypes = Seq("Person"))

  /** Digit-word person name: each digit d at position p is a 7-letter word
    * over {'a'+p, 'f'+d}, so a name and its `" jr"` alias have trigram
    * Jaccard above 0.9 while distinct names stay far below 0.8. */
  private def personName(pid: Int): String =
    (2 to 0 by -1).map { p =>
      val x = ('a' + p).toChar
      val y = ('f' + (pid / math.pow(10, p).toInt) % 10).toChar
      s"$y$x$x$y$y$x$y"
    }.mkString(" ")

  /** Batch b of 3: base names of its own persons, plus `" jr"` aliases of
    * the previous batch's persons and of the next batch's (both directions
    * across the batch boundary). */
  private def aliasBatch(b: Int): Seq[graft.model.Model.Turn] = {
    val ts0 = new java.sql.Timestamp(0L)
    def turn(c: String, i: Int, text: String) =
      graft.model.Model.Turn(c, i, "user", text, "", ts0)
    (0 until 4).flatMap { i =>
      def mention(tag: String, pid: Int, alias: Boolean) = {
        val n = personName(pid) + (if (alias) " jr" else "")
        Seq(turn(s"b$b-$tag$i", 0, s"My name is $n."),
          turn(s"b$b-$tag$i", 1, s"$n is ${20 + pid % 50} years old."))
      }
      mention("own", b * 10 + i, alias = false) ++
        (if (b > 0) mention("prev", (b - 1) * 10 + i, alias = true) else Nil) ++
        (if (b < 2) mention("next", (b + 1) * 10 + i, alias = true) else Nil)
    }
  }

  test("resolver watermark equals the distinct eligible node keys after every pass") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-wm").toString
    val dict = Pipeline.emptyDict(spark)
    def keys(df: org.apache.spark.sql.DataFrame, name: String) =
      df.select($"entity_type", org.apache.spark.sql.functions.col(name))
        .distinct().collect().map(r => (r.getString(0), r.getString(1))).toSet
    def checkWatermark(pass: String): Unit = {
      val wm = keys(Materialize.readTable(spark, s"$out/_resolve/resolved_keys").get,
        "dict_key")
      val nodes = keys(Materialize.readTable(spark, s"$out/nodes").get
        .filter($"entity_type".isin(aliasCfg.fuzzyTypes: _*)), "name")
      assert(wm == nodes, s"after $pass")
      assert(wm.nonEmpty, s"after $pass")
    }
    def ingestAndResolve(b: Int, runId: String): Incremental.ResolveStats = {
      Incremental.run(aliasBatch(b).toDS(), dict, out, runId, nBuckets = 1,
        linkCfg = Link.Config(fuzzy = false))
      Incremental.resolveDisjoint(spark, out, aliasCfg)
    }
    val stats = (0 until 3).map { b =>
      val st = ingestAndResolve(b, s"batch-$b")
      checkWatermark(s"batch $b")
      st
    }
    // batch 0 holds only its own base names and aliases of batch 1's
    // persons; every later pass merges aliases into committed rows
    assert(stats.head.rewritten == 0 && stats.tail.forall(_.rewritten > 0), s"$stats")
    // re-delivered pre-rewrite batch: its aliases resurrect merged-away
    // names, which must count as new again and re-merge
    val again = ingestAndResolve(1, "batch-1-again")
    checkWatermark("re-delivery of batch 1")
    assert(again.rewritten > 0, s"re-delivered aliases re-merge: $again")
    assert(Materialize.readTable(spark, s"$out/nodes").get
      .filter($"entity_type" === "Person" && $"name".endsWith(" jr")).count() == 0)

    // converged graph == one-shot build of the same turns + full resolve
    val ref = Files.createTempDirectory("graft-wm-ref").toString
    Incremental.run((0 until 3).flatMap(aliasBatch).toDS(), dict, ref, "all",
      nBuckets = 1, linkCfg = Link.Config(fuzzy = false))
    Incremental.resolveDisjoint(spark, ref, aliasCfg, fullRediscovery = true)
    assert(edgeSet(Materialize.readTable(spark, s"$out/edges").get) ==
      edgeSet(Materialize.readTable(spark, s"$ref/edges").get))
    def nodeSet(t: String) = Materialize.readTable(spark, t).get
      .select("guid", "entity_type", "name").collect()
      .map(_.toSeq.mkString("|")).toSet
    assert(nodeSet(s"$out/nodes") == nodeSet(s"$ref/nodes"))
  }

  test("a node whose guid is not guidFor(entity_type, name) makes the resolver throw") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-inv").toString
    Incremental.run(aliasBatch(0).toDS(), Pipeline.emptyDict(spark), out, "r",
      nBuckets = 1, linkCfg = Link.Config(fuzzy = false))
    Materialize.appendDelta(spark, s"$out/nodes",
      Seq(("0" * 64, "Person", personName(7))).toDF("guid", "entity_type", "name"),
      Seq("guid", "entity_type"))
    val ex = intercept[IllegalStateException] {
      Incremental.resolveDisjoint(spark, out, aliasCfg)
    }
    assert(ex.getMessage.contains("guidFor"))
    assert(!Files.exists(java.nio.file.Paths.get(out, "_resolve", "resolved_keys")))
  }
}
