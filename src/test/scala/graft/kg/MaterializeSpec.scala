package graft.kg

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

class MaterializeSpec extends AnyFunSuite {

  private lazy val spark = TestSpark.spark

  private def freshDir(): String =
    Files.createTempDirectory("graft-merge").toString

  test("mergeSnapshot is idempotent: f(f(x)) == f(x)") {
    import spark.implicits._
    val table = freshDir() + "/edges"
    val batch = Seq(("a", 1L), ("b", 2L), ("a", 1L)).toDF("k", "v")
    Materialize.mergeSnapshot(spark, table, batch, Seq("k", "v"))
    val after1 = Materialize.readTable(spark, table).get.collect().toSet
    Materialize.mergeSnapshot(spark, table, batch, Seq("k", "v"))
    val after2 = Materialize.readTable(spark, table).get.collect().toSet
    assert(after1 == after2)
    assert(after1.size == 2) // in-batch duplicate collapsed
  }

  test("final table independent of batch order (eventual-consistency analog)") {
    import spark.implicits._
    val b1 = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    val b2 = Seq(("b", 2L), ("c", 3L)).toDF("k", "v")

    val tAB = freshDir() + "/t"
    Materialize.mergeSnapshot(spark, tAB, b1, Seq("k", "v"))
    Materialize.mergeSnapshot(spark, tAB, b2, Seq("k", "v"))

    val tBA = freshDir() + "/t"
    Materialize.mergeSnapshot(spark, tBA, b2, Seq("k", "v"))
    Materialize.mergeSnapshot(spark, tBA, b1, Seq("k", "v"))

    val a = Materialize.readTable(spark, tAB).get.collect().toSet
    val b = Materialize.readTable(spark, tBA).get.collect().toSet
    assert(a == b && a.size == 3)
  }

  test("snapshot pointer flips atomically; old snapshot remains until flip") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.mergeSnapshot(spark, table, Seq(("a", 1L)).toDF("k", "v"), Seq("k"))
    val s0 = Materialize.currentSnapshot(table).get
    Materialize.mergeSnapshot(spark, table, Seq(("b", 2L)).toDF("k", "v"), Seq("k"))
    val s1 = Materialize.currentSnapshot(table).get
    assert(s0 != s1)
    // previous snapshot data still on disk (reader holding s0 is unaffected)
    assert(spark.read.parquet(s0).count() == 1)
    assert(spark.read.parquet(s1).count() == 2)
  }

  test("appendDelta writes O(batch) and merge-on-read equals full merge") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.appendDelta(spark, table, Seq(("a", 1L), ("b", 2L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    Materialize.appendDelta(spark, table, Seq(("b", 2L), ("c", 3L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    val m = Materialize.currentManifest(table).get
    assert(m.base.isEmpty && m.deltas.size == 2) // no rewrite happened
    val read = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(read == Set(("a", 1L), ("b", 2L), ("c", 3L))) // dedup on read
  }

  test("auto-compaction folds deltas into a base and GC reclaims them") {
    import spark.implicits._
    val table = freshDir() + "/t"
    (1 to 4).foreach { i =>
      Materialize.appendDelta(spark, table,
        Seq((s"k$i", i.toLong), ("shared", 0L)).toDF("k", "v"),
        Seq("k"), compactEvery = 4)
    }
    val m = Materialize.currentManifest(table).get
    assert(m.base.nonEmpty && m.deltas.isEmpty) // compacted on the 4th append
    val read = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(read == Set(("k1", 1L), ("k2", 2L), ("k3", 3L), ("k4", 4L), ("shared", 0L)))
    // GC: referenced base + at most retain(2) snapshot dirs; deltas gone
    val names = new java.io.File(table).list().toSeq
    assert(!names.exists(_.startsWith("delta-")))
  }

  test("gc retains deltas newer than the oldest kept base (lazy readers survive compaction)") {
    import spark.implicits._
    val table = freshDir() + "/t"
    // base snapshot, then a delta
    Materialize.mergeSnapshot(spark, table, Seq(("a", 1L)).toDF("k", "v"), Seq("k"))
    Materialize.appendDelta(spark, table, Seq(("b", 2L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    // lazy reader planned against (base, delta) — NOT executed yet
    val lazyReader = Materialize.readTable(spark, table).get
    // a later append triggers compaction; the delta the lazy reader
    // references must survive gc (it is newer than the oldest retained base)
    Materialize.appendDelta(spark, table, Seq(("c", 3L)).toDF("k", "v"),
      Seq("k"), compactEvery = 2)
    assert(Materialize.currentManifest(table).get.deltas.isEmpty) // compacted
    val got = lazyReader.collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == Set(("a", 1L), ("b", 2L))) // no FileNotFoundException
  }

  test("snapshot GC retains only the newest N bases") {
    import spark.implicits._
    val table = freshDir() + "/t"
    (1 to 5).foreach { i =>
      Materialize.mergeSnapshot(spark, table,
        Seq((s"k$i", i.toLong)).toDF("k", "v"), Seq("k"), retainSnapshots = 2)
    }
    val snaps = new java.io.File(table).list().filter(_.startsWith("snap-")).toSeq
    assert(snaps.size == 2) // retain-2, older bases reclaimed
    assert(Materialize.readTable(spark, table).get.count() == 5)
  }

  test("appendRewrite: equality deletes + inserts under one flip, ordered semantics") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.appendDelta(spark, table,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"),
      Seq("k", "v"), compactEvery = 0)
    // rewrite: delete (a,1) and (b,2), insert (a,10) and (d,4)
    Materialize.appendRewrite(spark, table,
      upserts = Seq(("a", 10L), ("d", 4L)).toDF("k", "v"),
      deleteKeys = Seq(("a", 1L), ("b", 2L)).toDF("k", "v"),
      key = Seq("k", "v"), compactEvery = 0)
    def read() = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(read() == Set(("a", 10L), ("c", 3L), ("d", 4L)))
    val m = Materialize.currentManifest(table).get
    assert(m.tombs.size == 1 && m.deltas.size == 2)

    // Iceberg sequence-number rule: a LATER re-insert of a deleted key
    // resurrects it (re-delivered pre-rewrite rows are not lost — the next
    // resolver pass re-merges them)
    Materialize.appendDelta(spark, table, Seq(("b", 2L)).toDF("k", "v"),
      Seq("k", "v"), compactEvery = 0)
    assert(read() == Set(("a", 10L), ("b", 2L), ("c", 3L), ("d", 4L)))

    // compaction folds tombstones away; the visible rows are unchanged
    Materialize.compact(spark, table)
    val mc = Materialize.currentManifest(table).get
    assert(mc.base.nonEmpty && mc.deltas.isEmpty && mc.tombs.isEmpty)
    assert(read() == Set(("a", 10L), ("b", 2L), ("c", 3L), ("d", 4L)))
  }

  test("awaitBoth settles the second action even when the first fails (no orphan writer)") {
    val bDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val ex = intercept[RuntimeException] {
      Materialize.awaitBoth(
        () => throw new RuntimeException("boom"),
        () => { Thread.sleep(300); bDone.set(true) })
    }
    assert(ex.getMessage == "boom")
    // the in-flight second write finished BEFORE the failure propagated —
    // a same-JVM retry can never race an orphan manifest flip
    assert(bDone.get)
  }

  test("concurrent appendDelta writers lose no delta (exclusive ids + manifest lock)") {
    import spark.implicits._
    val table = freshDir() + "/t"
    // 8 concurrent appends to ONE table: before the r5 guard, the
    // list-and-increment id mint could clobber a data dir and the unlocked
    // manifest read-modify-write could drop a sibling's delta from _CURRENT
    val threads = (0 until 8).map { i =>
      new Thread(() => Materialize.appendDelta(spark, table,
        Seq((s"k$i", i.toLong)).toDF("k", "v"), Seq("k"), compactEvery = 0))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    val got = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == (0 until 8).map(i => (s"k$i", i.toLong)).toSet)
    val m = Materialize.currentManifest(table).get
    assert(m.deltas.size == 8 && m.deltas.distinct.size == 8)
    // lock file released
    assert(!Files.exists(java.nio.file.Paths.get(table, "_LOCK")))
  }

  test("concurrent appendDelta with auto-compaction converges to the full row set") {
    import spark.implicits._
    val table = freshDir() + "/t"
    val threads = (0 until 6).map { i =>
      new Thread(() => Materialize.appendDelta(spark, table,
        Seq((s"c$i", i.toLong)).toDF("k", "v"), Seq("k"), compactEvery = 2))
    }
    threads.foreach(_.start())
    threads.foreach(_.join(120000))
    Materialize.compact(spark, table)
    val got = Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(got == (0 until 6).map(i => (s"c$i", i.toLong)).toSet)
  }

  test("a dir id under an in-flight writer's marker is never reserved again") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Files.createDirectories(java.nio.file.Paths.get(table))
    // a writer holds delta-0 inside Spark's Overwrite window: its marker
    // exists while the dir is deleted and not yet recreated
    Files.createFile(java.nio.file.Paths.get(table, ".pending-delta-0"))
    Materialize.appendDelta(spark, table, Seq(("a", 1L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    assert(Materialize.currentManifest(table).get.deltas == Seq("delta-1"))
    assert(!Files.exists(java.nio.file.Paths.get(table, "delta-0")))
  }

  test("mixed appendDelta + mergeSnapshot keeps one consistent table") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.appendDelta(spark, table, Seq(("a", 1L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    Materialize.mergeSnapshot(spark, table, Seq(("b", 2L)).toDF("k", "v"), Seq("k"))
    val m = Materialize.currentManifest(table).get
    assert(m.deltas.isEmpty) // rewrite folded the delta in
    assert(Materialize.readTable(spark, table).get.count() == 2)
  }

  /** base + delta + tombstone: the shape the resolver leaves behind. */
  private def mixedTable(): String = {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.mergeSnapshot(spark, table,
      Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v"), Seq("k"))
    Materialize.appendDelta(spark, table, Seq(("d", 4L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    Materialize.appendRewrite(spark, table, upserts = Seq(("b", 20L)).toDF("k", "v"),
      deleteKeys = Seq("a", "b").toDF("k"), key = Seq("k"), compactEvery = 0)
    table
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long)] =
    df.collect().map(r => (r.getAs[String]("k"), r.getAs[Long]("v"))).toSet

  test("readTable over base + delta + tomb plans without starting a Spark job") {
    val table = mixedTable()
    val m = Materialize.currentManifest(table).get
    assert(m.base.nonEmpty && m.deltas.size == 2 && m.tombs.size == 1)
    val (df, jobs) = TestSpark.jobsDuring(Materialize.readTable(spark, table).get)
    assert(jobs == 0, s"building the merge-on-read frame started $jobs job(s)")
    assert(rows(df) == Set(("b", 20L), ("c", 3L), ("d", 4L)))
  }

  test("a table without _SCHEMA (pre-pin layout) reads the same rows") {
    import spark.implicits._
    val table = mixedTable()
    val pinned = rows(Materialize.readTable(spark, table).get)
    Files.delete(java.nio.file.Paths.get(table, "_SCHEMA"))
    assert(rows(Materialize.readTable(spark, table).get) == pinned)
    // the next write pins the schema again
    Materialize.appendDelta(spark, table, Seq(("e", 5L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    assert(Files.exists(java.nio.file.Paths.get(table, "_SCHEMA")))
    assert(rows(Materialize.readTable(spark, table).get) == pinned + (("e", 5L)))
  }

  test("a write whose columns differ from the pinned schema fails loudly; replace re-pins") {
    import spark.implicits._
    val table = freshDir() + "/t"
    Materialize.appendDelta(spark, table, Seq(("a", 1L)).toDF("k", "v"),
      Seq("k"), compactEvery = 0)
    val wrongType = intercept[IllegalArgumentException] {
      Materialize.appendDelta(spark, table, Seq(("b", "2")).toDF("k", "v"),
        Seq("k"), compactEvery = 0)
    }
    assert(wrongType.getMessage.contains("_SCHEMA"))
    intercept[IllegalArgumentException] {
      Materialize.mergeSnapshot(spark, table, Seq(("b", 2L, 0)).toDF("k", "v", "x"), Seq("k"))
    }
    intercept[IllegalArgumentException] {
      Materialize.appendRewrite(spark, table, Seq(("b", 2L)).toDF("k", "v"),
        deleteKeys = Seq(1L).toDF("k"), key = Seq("k"), compactEvery = 0)
    }
    // nothing of the refused writes became visible
    assert(rows(Materialize.readTable(spark, table).get) == Set(("a", 1L)))
    // a column-order change is not a schema change (reads are by name)
    Materialize.appendDelta(spark, table, Seq((3L, "c")).toDF("v", "k"),
      Seq("k"), compactEvery = 0)
    assert(rows(Materialize.readTable(spark, table).get) == Set(("a", 1L), ("c", 3L)))
    // replace = true re-pins: the table now has the new columns
    val replaced = Materialize.mergeSnapshot(spark, table,
      Seq(("z", "new")).toDF("k", "w"), Seq("k"), replace = true)
    assert(replaced.columns.toSeq == Seq("k", "w"))
    assert(Materialize.readTable(spark, table).get.collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq == Seq(("z", "new")))
  }

  test("checkpointSized: the observed row equals a separate agg, also when empty") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val base = Seq(("a", "xy"), ("b", "z"), ("c", "")).toDF("k", "s")
    def sizeCols = Seq(count(lit(1)), sum(length(col("k")) + length(col("s"))))
    val frames = Seq(
      "rows" -> base,
      "empty" -> base.filter(lit(false)),
      // AQE empty-relation propagation: the join's empty side is known at
      // runtime only, so AQE may cancel the observed subtree's stage
      "empty join side" -> base.join(base.filter(col("k") === "none").select(col("k"),
        col("s").as("s2")), Seq("k")))
    frames.foreach { case (what, df) =>
      val (cp, row) = graft.ops.CapMetrics.checkpointSized(df, sizeCols: _*)
      val direct = df.agg(sizeCols.head, sizeCols.tail: _*).head()
      assert(row.toSeq == direct.toSeq, what)
      assert(cp.count() == direct.getLong(0), what)
    }
  }
}
