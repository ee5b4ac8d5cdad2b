package graft.kg

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.model.Model._

/** S7 — materialize the KG: deduplicated node/edge tables via idempotent
  * MERGE.
  *
  * The reference's Graph Mutator "unions subgraph to" the KG and duplicates
  * are removed (`docs/diagrams/megamind.drawio:72-75,103`); combined with
  * at-least-once delivery this is its eventual-consistency guarantee
  * (`README.md:1`): re-delivery converges to the same graph. The Spark
  * analog is an idempotent MERGE on a natural key:
  * `f(f(x)) == f(x)` and batch-order independence are property-tested.
  *
  * Backend: Iceberg `MERGE INTO` is the production path; this offline
  * environment has no Iceberg jars (verified — SURVEY §7.4), so the same
  * semantics are emulated with a two-tier table layout:
  *
  *  - '''base snapshot''' `snap-N` — a full deduplicated rewrite;
  *  - '''deltas''' `delta-M` — per-batch appends, deduplicated within the
  *    batch; readers union base + deltas and dedup on the natural key
  *    (merge-on-read), so each incremental batch writes O(batch) bytes, not
  *    O(table) — the fix for the O(B²) write amplification of
  *    rewrite-per-batch;
  *  - '''tombstones''' `tomb-K` — equality-delete files (the Iceberg
  *    delete-file analog): key rows that CANCEL earlier inserts of the same
  *    key. Ordered semantics: the numerically-largest dir id owning a key
  *    decides its fate (tombstone ids are minted like delta ids, so a
  *    later re-insert of a deleted key resurrects it — exactly Iceberg's
  *    sequence-number rule). [[appendRewrite]] writes one tombstone + one
  *    delta under a single manifest flip — an O(affected) partial rewrite
  *    instead of an O(table) snapshot;
  *  - [[Materialize.compact]] folds deltas/tombstones back into a new base
  *    every `compactEvery` appends (and at end of run), bounding read cost;
  *  - old snapshots/deltas are GC'd after a compaction/rewrite
  *    (`retainSnapshots` bases kept for in-flight readers).
  *
  * The visible state is one `_CURRENT` pointer file naming the base and the
  * live deltas (`snap-N;delta-a;delta-b`), flipped atomically (tmp +
  * ATOMIC_MOVE) — a crashed writer never corrupts the visible table.
  * Beside it sit the rest of the on-disk contract, each written once the
  * same way: `_KEY` (the natural key merge-on-read dedups on) and
  * `_SCHEMA` (the column schema every dir is scanned with, so a read
  * infers nothing; a write with other columns fails loudly).
  *
  * CONCURRENT WRITERS: dir ids (`snap-N`/`delta-M`/`tomb-K`) are RESERVED
  * with a create-exclusive `Files.createDirectory` (retry upward on
  * collision), so two writers — threads or processes — can never clobber
  * each other's data dirs; and every manifest read-modify-write runs under
  * a per-table critical section (JVM lock + a create-exclusive `_LOCK`
  * file for cross-process mutual exclusion, bounded wait then a LOUD
  * failure naming the lock — never a silent lost update). The production
  * path remains Iceberg `MERGE INTO`, whose optimistic commit protocol is
  * the real multi-writer story (keep the same call boundaries when
  * swapping the backend in); this guard makes the offline emulation safe
  * for the multi-writer shapes the repo actually runs (concurrent
  * edges/nodes jobs, a compaction racing an append).
  */
object Materialize {

  val edgeKey: Seq[String] = Seq("subj_type", "subj_guid", "pred", "obj_kind",
    "obj_type", "obj_guid", "obj_string", "obj_int64", "obj_float64")

  /** Run two independent table writes as concurrent Spark jobs, awaiting
    * BOTH before propagating a failure: abandoning the in-flight second
    * future would let a same-JVM retry race its unsynchronized
    * read-manifest → flip against the orphan (the single-writer assumption
    * is per TABLE, and an orphan violates it). The first failure rethrows
    * after both settle. */
  private[graft] def awaitBoth(a: () => Unit, b: () => Unit): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val (fa, fb) = (Future(a()), Future(b()))
    val ra = scala.util.Try(Await.result(fa, Duration.Inf))
    val rb = scala.util.Try(Await.result(fb, Duration.Inf))
    ra.get
    rb.get
  }

  /** Labeled triples → deduplicated edge rows (drop lineage, collapse
    * replays/duplicates). Map-side partial aggregation makes this cheap:
    * Catalyst plans dropDuplicates as a hash aggregate with partial+final.
    *
    * Dedup runs on the (type, key) form and the sha-256 GUIDs are minted on
    * the collapsed output: the GUID is a pure function of (type,
    * canonical_key), so deduplicating keys is equivalent to deduplicating
    * GUIDs, but the big exchange carries short keys instead of two 64-char
    * hex strings per row, and the hash runs once per distinct edge instead
    * of once per raw triple (measured ~40% smaller shuffle rows on the
    * bench corpus). */
  def edges(labeled: DataFrame): DataFrame = {
    val keyCols = Seq("subj_type", "subj_key", "pred", "obj_kind",
      "obj_type", "obj_key", "obj_string", "obj_int64", "obj_float64")
    labeled.select(keyCols.map(col): _*).dropDuplicates(keyCols)
      .select(
        col("subj_type"),
        graft.kg.Link.guidFor(col("subj_type"), col("subj_key")).as("subj_guid"),
        col("pred"), col("obj_kind"),
        col("obj_type"),
        when(col("obj_kind") === graft.model.Model.ObjKind.Subject,
          graft.kg.Link.guidFor(col("obj_type"), col("obj_key"))).as("obj_guid"),
        col("obj_string"), col("obj_int64"), col("obj_float64"))
  }

  /** Canonical entity nodes from the registry: one row per guid, with the
    * canonical key as deterministic display name. */
  def nodes(registry: DataFrame): DataFrame =
    registry.groupBy(col("guid"), col("entity_type"))
      .agg(min(col("canonical_key")).as("name"))

  // ---- snapshot + delta MERGE emulation -------------------------------------

  final case class Manifest(base: Option[String], deltas: Seq[String],
      tombs: Seq[String] = Nil) {
    def render: String = (base.toSeq ++ deltas ++ tombs).mkString(";")
    def dirs: Seq[String] = base.toSeq ++ deltas
    def allDirs: Seq[String] = base.toSeq ++ deltas ++ tombs
  }

  private def currentPointer(table: String): Path = Paths.get(table, "_CURRENT")

  /** Parse the live manifest (back-compatible with the plain `snap-N`
    * single-dir format). */
  def currentManifest(table: String): Option[Manifest] = {
    val p = currentPointer(table)
    if (!Files.exists(p)) None
    else {
      val parts = Files.readString(p).trim.split(";").filter(_.nonEmpty).toSeq
      val (bases, rest) = parts.partition(_.startsWith("snap-"))
      val (tombs, deltas) = rest.partition(_.startsWith("tomb-"))
      Some(Manifest(bases.headOption, deltas, tombs))
    }
  }

  /** Resolve the live BASE snapshot dir, or None (legacy helper — prefer
    * [[readTable]], which also sees un-compacted deltas). */
  def currentSnapshot(table: String): Option[String] =
    currentManifest(table).flatMap(_.base).map(d => Paths.get(table, d).toString)

  /** Read the visible table: base ∪ deltas, deduplicated on the stored
    * natural key (merge-on-read), minus tombstoned keys. Compacted tables
    * read the base parquet directly — no dedup work; tables without
    * tombstones keep the plain dropDuplicates path (rows in these tables are
    * fully determined by their natural key, so arbitrary-winner dedup is
    * exact). With tombstones the LAST operation per key by dir id wins —
    * one hash aggregation, same shuffle shape as the dedup it replaces.
    *
    * Every dir scans with the pinned `_SCHEMA` (tombstones with its key
    * projection), so building the frame starts no Spark job — a schema-less
    * `spark.read.parquet` runs one footer-inference job per dir. A table
    * written before `_SCHEMA` existed infers once, from its first manifest
    * dir. */
  def readTable(spark: SparkSession, table: String): Option[DataFrame] =
    currentManifest(table).map { m =>
      val schema = readSchema(table).getOrElse(
        spark.read.parquet(Paths.get(table, m.allDirs.head).toString).schema)
      def scan(d: String, s: StructType): DataFrame =
        spark.read.schema(s).parquet(Paths.get(table, d).toString)
      if (m.tombs.isEmpty) {
        val all = m.dirs.map(scan(_, schema)).reduce(_ unionByName _)
        // single-dir tables need no merge: a lone base is deduplicated by
        // construction, and a lone delta is key-distinct by the appendDelta
        // contract (dedupStaged or caller-guaranteed) — skipping the
        // dropDuplicates saves a full shuffle on the hot single-batch
        // streaming read path
        if (m.dirs.size <= 1) all
        else all.dropDuplicates(readKey(table))
      } else {
        def dirId(n: String): Long = n.split("-").last.toLong
        val key = readKey(table)
        val ins = m.dirs.map(d => scan(d, schema)
          .withColumn("_dir_id", lit(dirId(d))).withColumn("_ins", lit(true)))
        val del = m.tombs.map(d => scan(d, keySchema(schema, key))
          .withColumn("_dir_id", lit(dirId(d))).withColumn("_ins", lit(false)))
        val all = (ins ++ del).reduce(_.unionByName(_, allowMissingColumns = true))
        val nonKey = all.columns.toSeq
          .filterNot(c => key.contains(c) || c == "_dir_id" || c == "_ins")
        val winner = struct((col("_dir_id").as("i") +: col("_ins").as("ins") +:
          nonKey.map(c => col(c).as(c))): _*)
        all.groupBy(key.map(col): _*)
          .agg(max(winner).as("_w"))
          .filter(col("_w.ins"))
          .select(key.map(col) ++ nonKey.map(c => col(s"_w.$c").as(c)): _*)
      }
    }

  // The natural key (`_KEY`) and the column schema (`_SCHEMA`, StructType
  // JSON, every field nullable) are the table's on-disk contract: a reader
  // cannot know the key otherwise, and the pinned schema spares every scan
  // the footer-inference job. Both are written on the first write as tmp +
  // ATOMIC_MOVE (like `flip`), so a concurrent reader never sees a partial
  // file. A later write whose columns differ from the pin fails loudly;
  // `mergeSnapshot(replace = true)` re-pins.
  private def keyPath(table: String): Path = Paths.get(table, "_KEY")
  private def schemaPath(table: String): Path = Paths.get(table, "_SCHEMA")

  private def writeAtomic(p: Path, content: String): Unit = {
    val tmp = Files.createTempFile(p.getParent, s".${p.getFileName}", ".tmp")
    Files.writeString(tmp, content)
    Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def writeKey(table: String, key: Seq[String]): Unit =
    if (!Files.exists(keyPath(table))) writeAtomic(keyPath(table), key.mkString("\n"))
  private def readKey(table: String): Seq[String] =
    Files.readString(keyPath(table)).split("\n").filter(_.nonEmpty).toSeq

  private def readSchema(table: String): Option[StructType] =
    Option.when(Files.exists(schemaPath(table)))(
      DataType.fromJson(Files.readString(schemaPath(table))).asInstanceOf[StructType])

  private def keySchema(schema: StructType, key: Seq[String]): StructType =
    StructType(key.map(schema(_)))

  /** Pin `schema` as the table's `_SCHEMA` when none is pinned (or when
    * `replace`), else require the write's columns to equal the pin by name
    * and type (order-free: every read is by name). Returns the pin. */
  private def pinSchema(table: String, schema: StructType,
      replace: Boolean = false): StructType = {
    val s = nullable(schema)
    readSchema(table) match {
      case Some(pinned) if sameColumns(pinned, s) => pinned
      case Some(pinned) if !replace =>
        throw new IllegalArgumentException(s"table $table: write columns " +
          s"${s.simpleString} differ from the pinned ${pinned.simpleString} " +
          s"(${schemaPath(table)})")
      case _ => writeAtomic(schemaPath(table), s.json); s
    }
  }

  // parquet reads every field back nullable; pin and compare in that form
  private def nullable(s: StructType): StructType = {
    def n(t: DataType): DataType = t match {
      case st: StructType => nullable(st)
      case a: ArrayType => ArrayType(n(a.elementType), containsNull = true)
      case m: MapType => MapType(n(m.keyType), n(m.valueType), valueContainsNull = true)
      case other => other
    }
    StructType(s.fields.map(f => f.copy(dataType = n(f.dataType), nullable = true)))
  }

  private def sameColumns(a: StructType, b: StructType): Boolean =
    a.fields.map(f => f.name -> f.dataType).toMap ==
      b.fields.map(f => f.name -> f.dataType).toMap

  // Files.list streams must be closed (fd leak in a long-lived driver)
  private def listTableDirs(table: String): Seq[String] = {
    val dir = Paths.get(table)
    if (!Files.exists(dir)) Seq.empty
    else {
      val st = Files.list(dir)
      try st.toArray.map(_.toString.split("/").last)
        .filter(n => n.startsWith("snap-") || n.startsWith("delta-") ||
          n.startsWith("tomb-")).toSeq
      finally st.close()
    }
  }

  private def nextId(table: String): Long = {
    val s = listTableDirs(table).map(_.split("-").last.toLong)
    if (s.isEmpty) 0L else s.max + 1
  }

  /** Reserve the next `kind-N` dir CREATE-EXCLUSIVELY: two writers
    * listing the same max id can never both claim `kind-N` — the loser
    * retries upward. (Plain list-and-increment let two processes mint the
    * same id and silently clobber each other's parquet files.)
    *
    * The claim token is a sibling `.pending-<dir>` marker, created
    * exclusively BEFORE the dir: Spark's Overwrite write deletes and
    * recreates the reserved dir, so while a write is in flight the dir
    * itself may be briefly absent and only the marker shows the id is
    * taken (a dir-only claim let a second writer reserve the same id in
    * that window and delete the first writer's `_temporary` files). The
    * marker also protects the reservation from a concurrent [[gc]] until
    * the writer flips it into the manifest and [[commitReserved]] removes
    * it (it sits OUTSIDE the dir because the Overwrite write clears the
    * dir's contents). A crashed writer's marker goes stale and stops
    * protecting after [[PendingStaleMs]] — gc then reclaims both. */
  private def reserveDir(table: String, kind: String): String = {
    Files.createDirectories(Paths.get(table))
    var id = nextId(table)
    var made: String = null
    while (made == null) {
      val name = s"$kind-$id"
      try {
        Files.createFile(pendingMarker(table, name))
        // an existing dir without a marker is committed (or abandoned): skip
        try { Files.createDirectory(Paths.get(table, name)); made = name }
        catch { case e: java.nio.file.FileAlreadyExistsException =>
          Files.delete(pendingMarker(table, name)); throw e }
      } catch { case _: java.nio.file.FileAlreadyExistsException => id += 1 }
    }
    made
  }

  private[kg] val PendingStaleMs = 15L * 60 * 1000
  private def pendingMarker(table: String, dirName: String): Path =
    Paths.get(table, s".pending-$dirName")
  private def commitReserved(table: String, dirNames: String*): Unit =
    dirNames.foreach(n => Files.deleteIfExists(pendingMarker(table, n)))

  /** Dir names under a live (non-stale) pending marker — reserved by an
    * in-flight writer, invisible to the manifest, NOT garbage. */
  private def pendingDirs(table: String): Set[String] = {
    val dir = Paths.get(table)
    if (!Files.exists(dir)) return Set.empty
    val st = Files.list(dir)
    val markers = try st.toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith(".pending-")).toSeq
      finally st.close()
    val now = System.currentTimeMillis()
    markers.flatMap { p =>
      val fresh = try
        now - Files.getLastModifiedTime(p).toMillis < PendingStaleMs
      catch { case _: java.io.IOException => false } // marker raced away
      if (fresh) Some(p.getFileName.toString.stripPrefix(".pending-"))
      else { Files.deleteIfExists(p); None } // stale: crashed writer — reclaim
    }.toSet
  }

  // Per-table critical section for manifest read-modify-write: a JVM lock
  // (same-process threads — the concurrent edges/nodes append shape) plus a
  // create-exclusive _LOCK file (cross-process). Without it, two concurrent
  // flips both read the old manifest and the second write silently DROPS the
  // first writer's delta from the visible table. Bounded wait, loud failure:
  // a writer that cannot acquire within ~2 min reports the lock path instead
  // of proceeding unsafely (a crashed writer's stale _LOCK is named in the
  // error for manual removal).
  private val tableLocks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def withTableLock[T](table: String)(f: => T): T = {
    val keyPathNorm = Paths.get(table).toAbsolutePath.normalize.toString
    val jvm = tableLocks.computeIfAbsent(keyPathNorm, _ => new Object)
    jvm.synchronized {
      Files.createDirectories(Paths.get(table))
      val lock = Paths.get(table, "_LOCK")
      var tries = 0
      var acquired = false
      while (!acquired) {
        try { Files.createFile(lock); acquired = true }
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            tries += 1
            if (tries > 2400)
              throw new IllegalStateException(
                s"table $table locked by another writer for >2 min ($lock " +
                "exists; if the owner crashed, delete the file to recover) — " +
                "refusing to update the manifest concurrently")
            Thread.sleep(50L)
        }
      }
      try f finally Files.deleteIfExists(lock)
    }
  }

  private def flip(table: String, m: Manifest): Unit = {
    val tmp = Paths.get(table, "_CURRENT.tmp")
    Files.writeString(tmp, m.render)
    Files.move(tmp, currentPointer(table), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private[graft] def deleteDirRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { Files.delete(f); () })
      finally st.close()
    }

  /** Drop snapshot/delta dirs no longer referenced by the manifest, keeping
    * the newest `retainSnapshots` bases for in-flight readers — and, with
    * the same grace, every delta newer than the OLDEST retained base: a lazy
    * DataFrame planned from a pre-compaction manifest (base_old + deltas)
    * stays executable until base_old itself ages out (deltas older than the
    * oldest retained base were folded into it and have no live reader). */
  def gc(table: String, retainSnapshots: Int = 2): Unit = {
    currentManifest(table).foreach { m =>
      val live = m.allDirs.toSet
      val pending = pendingDirs(table) // in-flight reservations are NOT garbage
      val all = listTableDirs(table)
      def id(n: String): Long = n.split("-").last.toLong
      val keepBases = all.filter(_.startsWith("snap-"))
        .sortBy(id).takeRight(math.max(retainSnapshots, 1)).toSet
      val oldestKeptBase = keepBases.map(id).minOption.getOrElse(Long.MaxValue)
      all.filterNot(n => live.contains(n) || keepBases.contains(n) ||
          pending.contains(n) ||
          ((n.startsWith("delta-") || n.startsWith("tomb-")) && id(n) > oldestKeptBase))
        .foreach(n => deleteDirRecursive(Paths.get(table, n)))
    }
  }

  /** MERGE staged rows into `table` on `key`: insert-if-absent semantics
    * (duplicates collapse; reruns are no-ops). Performs a FULL deduplicated
    * rewrite (new base snapshot, deltas folded in and cleared) — use
    * [[appendDelta]] for per-batch increments and let compaction amortize
    * the rewrites. With `replace = true` the staged frame REPLACES the
    * table (and re-pins its `_SCHEMA`). Old snapshots beyond
    * `retainSnapshots` are GC'd. Returns the merged snapshot, read with the
    * pinned schema. */
  def mergeSnapshot(spark: SparkSession, table: String, staged: DataFrame,
      key: Seq[String], replace: Boolean = false,
      retainSnapshots: Int = 2): DataFrame = withTableLock(table) {
    // whole-op critical section: the rewrite reads the live table, so a
    // concurrent append between read and flip would be silently folded out
    writeKey(table, key)
    val schema = pinSchema(table, staged.schema, replace)
    val merged = readTable(spark, table) match {
      case Some(existing) if !replace =>
        existing.unionByName(staged).dropDuplicates(key)
      case _ => staged.dropDuplicates(key)
    }
    val snapDir = reserveDir(table, "snap")
    merged.write.mode(SaveMode.Overwrite).parquet(Paths.get(table, snapDir).toString)
    flip(table, Manifest(Some(snapDir), Nil))
    commitReserved(table, snapDir)
    gc(table, retainSnapshots)
    spark.read.schema(schema).parquet(Paths.get(table, snapDir).toString)
  }

  /** Append one batch as a delta: O(batch) bytes written, visible
    * immediately through merge-on-read. Triggers [[compact]] once the live
    * delta count reaches `compactEvery` (0 = never auto-compact). Idempotent
    * under replay IF the reader is the contract (duplicate rows across
    * deltas collapse on read and at the next compaction). */
  def appendDelta(spark: SparkSession, table: String, staged: DataFrame,
      key: Seq[String], compactEvery: Int = 8,
      retainSnapshots: Int = 2, dedupStaged: Boolean = true): Unit = {
    Files.createDirectories(Paths.get(table))
    writeKey(table, key)
    pinSchema(table, staged.schema)
    val deltaDir = reserveDir(table, "delta")
    // dedupStaged = false skips the in-batch dedup shuffle when the caller
    // guarantees the staged frame is already key-distinct (pipeline outputs
    // are — Materialize.edges/nodes end in a dedup/agg); merge-on-read
    // would collapse any duplicates anyway, so this only trades write size.
    // The (long) data write runs OUTSIDE the manifest lock — only the
    // read-modify-write of _CURRENT is serialized.
    (if (dedupStaged) staged.dropDuplicates(key) else staged)
      .write.mode(SaveMode.Overwrite).parquet(Paths.get(table, deltaDir).toString)
    val shouldCompact = withTableLock(table) {
      val m = currentManifest(table).getOrElse(Manifest(None, Nil))
      flip(table, Manifest(m.base, m.deltas :+ deltaDir, m.tombs))
      commitReserved(table, deltaDir)
      compactEvery > 0 && m.deltas.size + m.tombs.size + 1 >= compactEvery
    }
    if (shouldCompact) compact(spark, table, retainSnapshots)
  }

  /** Partial rewrite under ONE manifest flip: delete `deleteKeys` (key
    * columns; extra columns are ignored) and insert `upserts`, both
    * O(affected-rows) writes. The tombstone dir id is minted BEFORE the
    * delta id, so a key present in both resolves as insert-wins — and any
    * LATER appendDelta of a deleted key resurrects it (Iceberg
    * sequence-number semantics), which is what makes re-delivered
    * pre-rewrite rows safe: they reappear and the next resolver pass
    * re-merges them (eventual consistency). */
  def appendRewrite(spark: SparkSession, table: String, upserts: DataFrame,
      deleteKeys: DataFrame, key: Seq[String], compactEvery: Int = 8,
      retainSnapshots: Int = 2): Unit = {
    Files.createDirectories(Paths.get(table))
    writeKey(table, key)
    val schema = pinSchema(table, upserts.schema)
    val tomb = deleteKeys.select(key.map(col): _*)
    require(sameColumns(keySchema(schema, key), nullable(tomb.schema)),
      s"table $table: tombstone columns ${tomb.schema.simpleString} differ " +
        s"from the pinned key columns ${keySchema(schema, key).simpleString}")
    // tomb reserved BEFORE delta: monotonic reservation keeps tomb id <
    // delta id, preserving the insert-wins resolution for keys in both.
    // The ids only need the RESERVATION ordered — the two data writes are
    // independent files invisible until the manifest flip, so they run as
    // concurrent Spark jobs (both awaited even on failure — awaitBoth)
    val tombDir = reserveDir(table, "tomb")
    val deltaDir = reserveDir(table, "delta")
    awaitBoth(
      () => tomb.dropDuplicates(key)
        .write.mode(SaveMode.Overwrite).parquet(Paths.get(table, tombDir).toString),
      () => upserts.dropDuplicates(key)
        .write.mode(SaveMode.Overwrite).parquet(Paths.get(table, deltaDir).toString))
    val shouldCompact = withTableLock(table) {
      val m = currentManifest(table).getOrElse(Manifest(None, Nil))
      flip(table, Manifest(m.base, m.deltas :+ deltaDir, m.tombs :+ tombDir))
      commitReserved(table, tombDir, deltaDir)
      compactEvery > 0 && m.deltas.size + m.tombs.size + 2 >= compactEvery
    }
    if (shouldCompact) compact(spark, table, retainSnapshots)
  }

  /** Fold base + deltas into a fresh base snapshot and GC. A no-op when
    * there are no deltas. */
  def compact(spark: SparkSession, table: String,
      retainSnapshots: Int = 2): Unit = withTableLock(table) {
    // whole-op critical section (like mergeSnapshot): the fold reads the
    // manifest's dirs, so an append flipping in between would be lost
    currentManifest(table).foreach { m =>
      if (m.deltas.nonEmpty || m.tombs.nonEmpty) {
        val merged = readTable(spark, table).get
        val snapDir = reserveDir(table, "snap")
        merged.write.mode(SaveMode.Overwrite)
          .parquet(Paths.get(table, snapDir).toString)
        flip(table, Manifest(Some(snapDir), Nil))
        commitReserved(table, snapDir)
        gc(table, retainSnapshots)
      }
    }
  }
}
