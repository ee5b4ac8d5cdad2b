package graft.ops

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.kg.Graph

class SizeGateSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def edges = {
    import spark.implicits._
    Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d").toDF("src", "dst")
  }

  private def texts(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }
  private def train = texts(1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "nothing in common with the benchmark at all")
  private def bench = texts(10L -> "quick brown fox jumps over the lazy dog today")

  /** `f` with AQE off, so every action is exactly one Spark job (AQE submits
    * each shuffle stage as a job of its own). */
  private def withoutAqe[T](f: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try f finally spark.conf.set(key, prev)
  }

  test("a driver site and a broadcast site checkpoint and size in one job") {
    withoutAqe {
      // pageRank's driver path: the gate job, then the collect of the
      // checkpointed edges (the driver loop itself starts none)
      val (_, prJobs) = TestSpark.jobsDuring(Graph.pageRank(edges, iters = 3))
      assert(prJobs == 2, s"pageRank started $prJobs jobs")
      // hitCountsManaged is lazy apart from the benchmark-set gate
      val (m, hcJobs) = TestSpark.jobsDuring(
        Contamination.hitCountsManaged(train, bench, shingleN = 4))
      m.free()
      assert(hcJobs == 1, s"hitCountsManaged started $hcJobs jobs")
    }
  }

  test("auto mode takes the small path at test scale; distributed never does") {
    def driver(site: String) = CapMetrics.latest(s"gate.$site").get("driver")
    def sites(): Unit = {
      Graph.pageRank(edges, iters = 3).collect()
      Contamination.hitCountsManaged(train, bench, shingleN = 4).free()
    }
    sites()
    assert(driver("graph.pagerank").contains(1L))
    assert(driver("contamination.bench").contains(1L))
    val g = CapMetrics.latest("gate.graph.pagerank")
    assert(g.get("rows").contains(4L) && g.get("bytes").contains(8L), s"$g")
    TestSpark.distributed(sites())
    assert(driver("graph.pagerank").contains(0L))
    assert(driver("contamination.bench").contains(0L))
    sites()
    assert(driver("graph.pagerank").contains(1L))
  }

  test("an unknown spark.graft.gates value throws") {
    spark.conf.set(SizeGate.Conf, "sometimes")
    try {
      val e = intercept[IllegalArgumentException](Graph.pageRank(edges))
      assert(e.getMessage.contains("sometimes"))
    } finally spark.conf.unset(SizeGate.Conf)
  }

  test("derived limits take the same path as the products they bound") {
    // Lloyd: 4 * floats within the byte limit <=> floats <= 32M and
    // floats * lists * iters <= 2e9
    for (lists <- Seq(0, 1, 5, 64, 1000); iters <- Seq(0, 1, 3, 7);
         floats <- Seq(0L, 1L, 999L, 4000000L, 6250000L, 6250001L,
           33554432L, 33554433L, 400000000L)) {
      val want = floats <= 33554432L && floats * lists * iters <= 2000000000L
      assert((floats * 4 <= SizeGate.lloyd(lists, iters).bytes) == want,
        s"lists=$lists iters=$iters floats=$floats")
    }
    // fan-out: rows * n within the limit <=> rows within per(n)
    for (n <- Seq(1L, 3L, 8L, 64L); rows <- Seq(0L, 1L, 250000L, 250001L,
         666666L, 666667L, 2000000L, 2000001L)) {
      assert((rows * n <= SizeGate.Driver.rows) == (rows <= SizeGate.Driver.per(n).rows),
        s"n=$n rows=$rows")
    }
  }
}
