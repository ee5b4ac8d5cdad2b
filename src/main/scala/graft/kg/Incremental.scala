package graft.kg

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.model.Model._

/** Incremental/resumable execution with per-partition checkpoints, lineage
  * and metrics (north rule: "checkpoint per-partition progress with
  * lineage + metrics so any stage is resumable").
  *
  * The input is split into `nBuckets` deterministic conv_id hash buckets;
  * each bucket runs the full pipeline and MERGEs into the output tables,
  * then appends a `_checkpoints` row. A restarted run consults the table and
  * skips completed buckets — safe because the sink is an idempotent MERGE
  * and GUIDs are content-derived (re-processing a bucket is a no-op).
  *
  * Linking across batches mirrors megamind's architecture: per-bucket
  * linking is exact/dictionary (synchronous, like the Entity Registry
  * lookup), while FUZZY canonicalization runs as a separate global
  * compaction pass [[Incremental.resolveDisjoint]] over the accumulated
  * node table — the batch analog of megamind's asynchronous Disjoint
  * Watcher → Disjoint Resolver loop (`docs/diagrams/megamind.drawio:80-113`):
  * the graph is eventually consistent, converging when the resolver runs.
  */
object Incremental {

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  final case class Checkpoint(run_id: String, stage: String, partition_key: Int,
      status: String, rows_in: Long, rows_out: Long, started_ms: Long, finished_ms: Long)

  private def cpPath(outDir: String) = s"$outDir/_checkpoints"
  private def metricsPath(outDir: String) = s"$outDir/_metrics"

  // Checkpoint/metrics rows are appended from the DRIVER as one small JSON
  // file per append (tmp + ATOMIC_MOVE — a crash never leaves a partial
  // line visible): durability per bucket without paying a Spark job for a
  // 1-row parquet write. Measured: the four 1-row writes per bucket were
  // ~2-4 s of pure scheduling overhead per 2-bucket run — the dominant
  // fixed cost of kg_incremental after the r3 optimizations.
  private def jsonEscape(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  private val appendSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  // per-process tag: millis + a JVM-local counter alone collide when two
  // PROCESSES append to the same dir in the same millisecond, and POSIX
  // rename silently REPLACES the target — a dropped checkpoint row would be
  // undetectable (resume would just re-run a bucket, but a dropped metrics
  // row is simply lost)
  private val procTag =
    java.lang.Long.toHexString(java.util.UUID.randomUUID().getLeastSignificantBits)
  private def appendJsonFile(dir: String, json: String): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val name = s"r-${System.currentTimeMillis()}-$procTag-${appendSeq.incrementAndGet()}"
    val tmp = d.resolve(s".$name.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, d.resolve(s"$name.json"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  private val cpSchema = org.apache.spark.sql.Encoders.product[Checkpoint].schema
  private val metricsSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("run_id", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("stage", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("partition_key", org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("metric", org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.LongType)))

  /** Read an append dir that may hold JSONL rows (current format) AND
    * parquet part files (the pre-r4 format): a dir written by an older
    * build must not read as EMPTY — that would silently void
    * completedBuckets and re-process every done bucket on resume. */
  private def readAppendDir(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    if (!Files.exists(Paths.get(dir)))
      return spark.createDataFrame(
        new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    val names = {
      val st = Files.list(Paths.get(dir))
      try st.toArray.map(_.toString) finally st.close()
    }
    val frames = Seq(
      if (names.exists(_.endsWith(".json")))
        Some(spark.read.schema(schema).option("mode", "DROPMALFORMED")
          .option("pathGlobFilter", "*.json").json(dir))
      else None,
      if (names.exists(_.endsWith(".parquet")))
        Some(spark.read.schema(schema)
          .option("pathGlobFilter", "*.parquet").parquet(dir))
      else None).flatten
    if (frames.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
    else frames.reduce(_ unionByName _)
  }

  def readCheckpoints(spark: SparkSession, outDir: String): DataFrame =
    readAppendDir(spark, cpPath(outDir), cpSchema)

  /** The per-bucket/per-resolve metrics table
    * `(run_id, stage, partition_key, metric, value)`. */
  def readMetrics(spark: SparkSession, outDir: String): DataFrame =
    readAppendDir(spark, metricsPath(outDir), metricsSchema)

  def completedBuckets(spark: SparkSession, outDir: String, runId: String): Set[Int] =
    readCheckpoints(spark, outDir)
      .filter(col("run_id") === runId && col("status") === "done" &&
        col("stage") === "pipeline")
      .select("partition_key").collect().map(_.getInt(0)).toSet

  private[graft] def appendCheckpoint(spark: SparkSession, outDir: String, cp: Checkpoint): Unit =
    appendJsonFile(cpPath(outDir),
      s"""{"run_id":"${jsonEscape(cp.run_id)}","stage":"${jsonEscape(cp.stage)}",""" +
      s""""partition_key":${cp.partition_key},"status":"${jsonEscape(cp.status)}",""" +
      s""""rows_in":${cp.rows_in},"rows_out":${cp.rows_out},""" +
      s""""started_ms":${cp.started_ms},"finished_ms":${cp.finished_ms}}""" + "\n")

  private def appendMetrics(spark: SparkSession, outDir: String,
      rows: Seq[(String, String, Int, String, Long)]): Unit =
    if (rows.nonEmpty) appendJsonFile(metricsPath(outDir),
      rows.map { case (r, s, p, m, v) =>
        s"""{"run_id":"${jsonEscape(r)}","stage":"${jsonEscape(s)}",""" +
        s""""partition_key":$p,"metric":"${jsonEscape(m)}","value":$v}"""
      }.mkString("", "\n", "\n"))

  /** Run (or resume) `runId` over the transcript table. Returns the number
    * of buckets actually processed this invocation.
    *
    * Buckets are independent partitions of the input writing through an
    * idempotent MERGE (batch-order independence is property-tested), so up
    * to `maxConcurrentBuckets` of them run as CONCURRENT driver-submitted
    * jobs (guide-standard overlap: the next bucket's tasks back-fill
    * executors idled by the current bucket's straggler tail — 2-3 in
    * flight is the sweet spot; the delta-append manifest flips are
    * lock-serialized and create-exclusive, built for exactly this shape).
    * `failAtBucket` (the resume-test injection hook) forces sequential
    * execution so the completed-bucket set at the failure point stays
    * deterministic; per-bucket `link.lsh` cap attribution is also recorded
    * only in sequential mode (concurrent buckets would interleave the
    * process-wide metric sequence — the caps still reach driver logs). */
  def run(turns: Dataset[Turn], dict: DataFrame, outDir: String, runId: String,
      nBuckets: Int = 16,
      linkCfg: Link.Config = Link.Config(fuzzy = false),
      failAtBucket: Option[Int] = None,
      recordCounts: Boolean = false,
      compactEvery: Int = 8,
      maxConcurrentBuckets: Int = 2): Int = {
    val spark = turns.sparkSession
    Files.createDirectories(Paths.get(outDir))
    val done = completedBuckets(spark, outDir, runId)
    val todo = (0 until nBuckets).filterNot(done.contains)
    if (todo.isEmpty) return 0
    // materialize the input once — each bucket filters the checkpoint
    // instead of re-running the upstream derivation per bucket. (At cluster
    // scale the input IS a table; this matters when `turns` is computed.)
    val input = turns.localCheckpoint(eager = true)
    val sequential = failAtBucket.isDefined || maxConcurrentBuckets <= 1
    val processed = new java.util.concurrent.atomic.AtomicInteger(0)

    def runBucket(b: Int): Unit = {
      failAtBucket.foreach(f => if (f == b)
        throw new RuntimeException(s"injected failure at bucket $b"))
      val t0 = System.currentTimeMillis()
      val slice = input.filter(pmod(hash(col("conv_id")), lit(nBuckets)) === b)
      val rowsIn = if (recordCounts) slice.count() else -1L
      val lshSeqBefore = graft.ops.CapMetrics.seqOf("link.lsh")
      val r = Pipeline.run(slice, dict, linkCfg)
      // per-bucket DELTA append: O(bucket) bytes written per bucket instead
      // of a full-table rewrite (the old rewrite-per-bucket was O(B^2) write
      // amplification across B buckets); merge-on-read keeps the table
      // consistent between compactions, compact() below bounds read cost.
      // The two tables are independent stores: submit their write jobs
      // CONCURRENTLY (the bucket checkpoint lands only after both, so a
      // crash between them just re-runs the bucket — idempotent MERGE).
      // Pipeline outputs are already key-distinct -> dedupStaged = false.
      parallel2(
        () => Materialize.appendDelta(spark, s"$outDir/edges", r.edges,
          Materialize.edgeKey, compactEvery = compactEvery, dedupStaged = false),
        () => Materialize.appendDelta(spark, s"$outDir/nodes", r.nodes,
          Seq("guid", "entity_type"), compactEvery = compactEvery,
          dedupStaged = false))
      // count the BUCKET's delta, not the whole table: an O(table) count per
      // bucket is O(B * table-read) across B buckets — the wrong default
      // posture at corpus scale (and `recordCounts` itself defaults off)
      val rowsOut = if (recordCounts) r.edges.count() else -1L
      // free this bucket's pipeline caches (raw-triple persist + registry
      // checkpoint) — without this, blocks accumulate once per bucket for
      // the whole session (merged tables are parquet-backed, independent)
      r.close()
      appendCheckpoint(spark, outDir,
        Checkpoint(runId, "pipeline", b, "done", rowsIn, rowsOut,
          t0, System.currentTimeMillis()))
      // cap observability into the run's _metrics table ("no silent caps"):
      // fuzzy LSH bucket drops for THIS bucket's linking pass — recorded
      // only if the site fired during this bucket (seq advanced), never
      // another query's stale values (sequential mode only; see scaladoc)
      val lshCaps =
        if (sequential && graft.ops.CapMetrics.seqOf("link.lsh") > lshSeqBefore)
          graft.ops.CapMetrics.latest("link.lsh").toSeq.map {
            case (k, v) => (runId, "link.lsh", b, k, v)
          }
        else Seq.empty
      appendMetrics(spark, outDir, Seq(
        (runId, "pipeline", b, "rows_in", rowsIn),
        (runId, "pipeline", b, "edges_bucket_out", rowsOut)) ++ lshCaps)
      processed.incrementAndGet()
      ()
    }

    try {
      if (sequential) todo.foreach(runBucket)
      else {
        // bounded concurrency on a dedicated pool (the global EC would cap
        // at CPU count and is shared); FIFO job scheduling gives the
        // back-fill behaviour — earlier buckets get resources first, later
        // buckets use what is left
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(maxConcurrentBuckets, todo.size))
        implicit val ec: scala.concurrent.ExecutionContext =
          scala.concurrent.ExecutionContext.fromExecutorService(pool)
        try {
          val fs = todo.map(b => scala.concurrent.Future(runBucket(b)))
          // await ALL (even on failure — an abandoned in-flight bucket would
          // race the cleanup below), then rethrow the first failure
          val rs = fs.map(f => scala.util.Try(scala.concurrent.Await.result(
            f, scala.concurrent.duration.Duration.Inf)))
          rs.foreach(_.get)
        } finally pool.shutdown()
      }
      // end-of-run compaction: fold trailing deltas into a fresh base so
      // steady-state reads pay zero merge-on-read cost (independent tables —
      // concurrent jobs)
      parallel2(
        () => Materialize.compact(spark, s"$outDir/edges"),
        () => Materialize.compact(spark, s"$outDir/nodes"))
      processed.get()
    } finally input.unpersist() // also on a mid-bucket failure (resume re-checkpoints)
  }

  private def parallel2(a: () => Unit, b: () => Unit): Unit =
    Materialize.awaitBoth(a, b)

  // -- Disjoint Resolver (delta-aware) ---------------------------------------

  private def resolveDir(outDir: String) = s"$outDir/_resolve"
  private def resolvedKeysTable(outDir: String) = s"${resolveDir(outDir)}/resolved_keys"
  private def resolveCfgPath(outDir: String) = Paths.get(resolveDir(outDir), "_CONFIG")

  /** The Config fields that determine the same-as pair set — a change in any
    * invalidates the converged-old-keys invariant and forces a full
    * rediscovery on the next resolve. */
  private def cfgSignature(cfg: Link.Config): String =
    Seq(cfg.exactSameAs, cfg.numHashes, cfg.bands, cfg.jaccardThreshold,
      cfg.fuzzyTypes.sorted.mkString(","), cfg.maxBandBucket).mkString("|")

  /** Global fuzzy-canonicalization compaction — megamind's Disjoint Resolver
    * as a batch job, DELTA-AWARE like the reference's watch-triggered design
    * (the Disjoint Watcher reacts to new (TUID, GUID) pairs, so only
    * entities touched since the last resolution are re-examined —
    * `docs/diagrams/megamind.drawio:80-88`).
    *
    * Each resolve records the post-rewrite eligible key set under
    * `_resolve/resolved_keys`; the next invocation anti-joins the node table
    * against it and runs same-as discovery ONLY over pairs involving a new
    * key ([[Link.fuzzySameAsDelta]] — old×old pairs are never enumerated).
    * Correct because a converged resolve leaves no old×old pair at or above
    * the threshold: any such pair would have been an edge of the previous
    * pass and hence one component. A [[Link.Config]] change (recorded as a
    * signature) voids that invariant, so it triggers full rediscovery
    * automatically; `fullRediscovery = true` forces it.
    *
    * Rewrites are entity-granular too: only rows touching a rewritten GUID
    * are deleted+re-inserted ([[Materialize.appendRewrite]] — one tombstone
    * + one delta under a single manifest flip), O(affected) instead of the
    * O(corpus) full-snapshot replace. Touched/total entity counts are logged
    * and appended to `_metrics` (stage `resolve`).
    *
    * Idempotent: a second invocation sees zero new keys and returns after
    * one node-table scan. First invocation (no state) = full resolve.
    */
  /** What one resolver pass examined and changed. */
  final case class ResolveStats(touched: Long, total: Long, rewritten: Long)

  def resolveDisjoint(spark: SparkSession, outDir: String,
      cfg: Link.Config = Link.Config(),
      fullRediscovery: Boolean = false): ResolveStats = {
    val nodesOpt = Materialize.readTable(spark, s"$outDir/nodes")
    val edgesOpt = Materialize.readTable(spark, s"$outDir/edges")
    if (nodesOpt.isEmpty || edgesOpt.isEmpty) return ResolveStats(0L, 0L, 0L)
    val nodes = nodesOpt.get
    val edges = edgesOpt.get
    val t0 = System.currentTimeMillis()

    // delta watermark: the key set covered by the previous resolve, valid
    // only under an unchanged discovery config
    val sig = cfgSignature(cfg)
    val sigMatches = Files.exists(resolveCfgPath(outDir)) &&
      Files.readString(resolveCfgPath(outDir)).trim == sig
    val oldKeys =
      if (fullRediscovery || !sigMatches) None
      else Materialize.readTable(spark, resolvedKeysTable(outDir))

    // Every derivation below (rewrite map, node rewrite, watermark) rests
    // on the node invariant guid == guidFor(entity_type, name): one node
    // row per eligible (entity_type, name), whose guid follows from the key.
    // The scan checks it in the same job that checkpoints and sizes
    // `flagged` (a violating key survives the distinct as its own row).
    val eligibleAll = nodes.filter(col("entity_type").isin(cfg.fuzzyTypes: _*))
      .select(col("entity_type"), col("name").as("dict_key"),
        (col("guid") =!= Link.guidFor(col("entity_type"), col("name"))).as("_bad"))
      .distinct()
    val (flagged, counts) = graft.ops.CapMetrics.checkpointSized(oldKeys match {
      case Some(old) =>
        val marker = old.select(col("entity_type"), col("dict_key"),
          lit(1).as("_seen"))
        eligibleAll.join(marker, Seq("entity_type", "dict_key"), "left")
          .select(col("entity_type"), col("dict_key"),
            col("_seen").isNull.as("is_new"), col("_bad"))
      case None =>
        eligibleAll.select(col("entity_type"), col("dict_key"),
          lit(true).as("is_new"), col("_bad"))
    }, count(lit(1)), sum(when(col("is_new"), 1L).otherwise(0L)),
      sum(when(col("_bad"), 1L).otherwise(0L)))
    val total = counts.getLong(0)
    val touched = if (counts.isNullAt(1)) 0L else counts.getLong(1)
    val bad = if (counts.isNullAt(2)) 0L else counts.getLong(2)
    if (bad > 0L) {
      flagged.unpersist()
      throw new IllegalStateException(s"resolver: $bad eligible node key(s) in " +
        s"$outDir/nodes carry a guid other than guidFor(entity_type, name); " +
        "the rewrite and watermark derivations would be wrong, refusing to resolve")
    }
    // phase boundary timestamps → per-phase _metrics rows: the flat-vs-
    // growing decomposition (O(delta) discovery vs O(total) merge-on-read
    // scan) must be readable from the artifact, not re-derived by hand
    val tScan = System.currentTimeMillis()
    log.info(s"[graft] resolver: $touched of $total entities touched since " +
      s"last resolve (${if (oldKeys.isEmpty) "full rediscovery" else "delta"})")

    if (touched == 0L) { // converged: nothing new since the last resolve
      appendMetrics(spark, outDir, Seq(
        ("resolve", "resolve", -1, "touched_entities", 0L),
        ("resolve", "resolve", -1, "total_entities", total)))
      flagged.unpersist()
      return ResolveStats(0L, total, 0L)
    }

    val (sameAs, freeDiscovery) = Link.fuzzySameAsManaged(flagged, cfg, delta = true)
    val cc = Canonicalize.connectedComponents(
        sameAs.select(col("entity_type"), col("key_a"), col("key_b")))
      .select(col("entity_type").as("cc_et"), col("key").as("cc_key"),
        col("component"))

    // guid rewrite map, derived from `cc` alone: every cc key is a flagged
    // node key, and by the invariant its node's guid is guidFor(type, key) —
    // so no join against the node table (only keys that change are kept)
    val (rewrite, rwCounts) = graft.ops.CapMetrics.checkpointSized(
      cc.filter(col("cc_key") =!= col("component"))
        .select(
          Link.guidFor(col("cc_et"), col("cc_key")).as("old_guid"),
          Link.guidFor(col("cc_et"), col("component")).as("new_guid"),
          col("cc_et").as("rw_et"), col("cc_key").as("old_name"),
          col("component").as("new_name")),
      count(lit(1)))
    val nRewrites = rwCounts.getLong(0)
    val tDiscover = System.currentTimeMillis()
    // rewrite is materialized — free the discovery's internal checkpoints
    // so a resolver LOOP (per-micro-batch resolveEvery) stays O(1) in
    // block-manager state instead of one candidate frame per pass
    freeDiscovery()

    if (nRewrites > 0L) {
      // size-gated broadcast (rewrite is checkpointed and sized): an
      // explicit hint is never demoted by AQE, so only hint when measured
      // small; above the gate the planner/AQE pick the join side
      val hintBc = nRewrites <= cfg.maxBroadcastRegistryRows
      def bc(df: DataFrame): DataFrame = if (hintBc) broadcast(df) else df

      // AFFECTED edge rows only: delete the pre-rewrite rows, insert the
      // rewritten ones — O(affected) written, not O(table). Edges and nodes
      // are independent tables: their rewrites run as concurrent
      // driver-submitted jobs (the per-bucket appendDelta shape)
      val rwSubj = bc(rewrite.select(col("old_guid").as("s_old"), col("new_guid").as("s_new")))
      val rwObj = bc(rewrite.select(col("old_guid").as("o_old"), col("new_guid").as("o_new")))
      val edgeCols = Seq("subj_type", "subj_guid", "pred", "obj_kind", "obj_type",
        "obj_guid", "obj_string", "obj_int64", "obj_float64")
      var affectedEdges: DataFrame = null
      Materialize.awaitBoth(
        () => {
          affectedEdges = edges
            .join(rwSubj, col("subj_guid") === col("s_old"), "left")
            .join(rwObj, col("obj_guid") === col("o_old"), "left")
            .filter(col("s_new").isNotNull || col("o_new").isNotNull)
            .localCheckpoint(eager = true) // feeds the upsert AND the tombstone
          val edgeUpserts = affectedEdges.select(
            col("subj_type"),
            coalesce(col("s_new"), col("subj_guid")).as("subj_guid"),
            col("pred"), col("obj_kind"), col("obj_type"),
            coalesce(col("o_new"), col("obj_guid")).as("obj_guid"),
            col("obj_string"), col("obj_int64"), col("obj_float64"))
          Materialize.appendRewrite(spark, s"$outDir/edges", edgeUpserts,
            affectedEdges.select(edgeCols.map(col): _*), Materialize.edgeKey)
        },
        // the node rewrite IS the map: by the invariant each rewritten key
        // is exactly one node row (old_guid, rw_et), replaced by its
        // component's row (new_guid, rw_et, new_name)
        () => Materialize.appendRewrite(spark, s"$outDir/nodes",
          rewrite.select(col("new_guid").as("guid"), col("rw_et").as("entity_type"),
            col("new_name").as("name")),
          rewrite.select(col("old_guid").as("guid"), col("rw_et").as("entity_type")),
          Seq("guid", "entity_type")))
      if (affectedEdges != null) affectedEdges.unpersist()
    }
    val tRewrite = System.currentTimeMillis()

    // record the new watermark: post-rewrite eligible key set + config sig.
    // Derived, not re-read: the rewrite deleted exactly the (rw_et,
    // old_name) keys and inserted component keys that are already flagged,
    // so the post-rewrite eligible set is `flagged` minus the merged-away
    // names (invariant above). Removing merged-away names is LOAD-BEARING:
    // a name resolved away in pass k can reappear in pass k+2 — it must
    // count as NEW again so its merge is rediscovered; a stale "seen" row
    // would silently skip it.
    //
    // The UPDATE is delta-shaped (added keys as a delta, removed keys as an
    // equality-delete tombstone): the replace-snapshot form rewrote the
    // ENTIRE key set every pass — measured 1.8M key rows written per
    // trigger at the 10M-turn rehearsal, an O(total) write that would
    // dominate per-trigger cost at corpus scale. Computing added/removed is
    // two anti-joins (linear COMPUTE over checkpointed frames); the WRITE
    // is O(changed). Full snapshot only on the first resolve or a config
    // change (watermark rebuilt from scratch).
    Files.createDirectories(Paths.get(resolveDir(outDir)))
    val wmKey = Seq("entity_type", "dict_key")
    val after = flagged.select(wmKey.map(col): _*).join(
      rewrite.select(col("rw_et").as("entity_type"), col("old_name").as("dict_key")),
      wmKey, "left_anti")
    oldKeys match {
      case Some(old) =>
        val added = after.join(old.select(wmKey.map(col): _*), wmKey, "left_anti")
        val removed = old.select(wmKey.map(col): _*).join(after, wmKey, "left_anti")
        Materialize.appendRewrite(spark, resolvedKeysTable(outDir),
          added, removed, wmKey)
      case None =>
        Materialize.mergeSnapshot(spark, resolvedKeysTable(outDir), after,
          wmKey, replace = true)
    }
    Files.writeString(resolveCfgPath(outDir), sig)

    appendMetrics(spark, outDir, Seq(
      ("resolve", "resolve", -1, "touched_entities", touched),
      ("resolve", "resolve", -1, "total_entities", total),
      ("resolve", "resolve", -1, "rewritten_entities", nRewrites),
      ("resolve", "resolve", -1, "scan_ms", tScan - t0),
      ("resolve", "resolve", -1, "discover_ms", tDiscover - tScan),
      ("resolve", "resolve", -1, "rewrite_ms", tRewrite - tDiscover),
      ("resolve", "resolve", -1, "watermark_ms", System.currentTimeMillis() - tRewrite),
      ("resolve", "resolve", -1, "elapsed_ms", System.currentTimeMillis() - t0)))
    rewrite.unpersist()
    flagged.unpersist()
    ResolveStats(touched, total, nRewrites)
  }
}
