package graft

import org.apache.spark.sql.SparkSession

/** One SparkSession shared across all suites (ScalaTest runs them in one
  * forked JVM — build.sbt `Test / fork := true`). */
object TestSpark {
  lazy val spark: SparkSession = Sessions.local(4, Some("graft-test"))

  /** Run `f` with every size gate forced onto its distributed path
    * (`spark.graft.gates=distributed`); the previous setting is restored
    * afterwards. */
  def distributed[T](f: => T): T = {
    val key = graft.ops.SizeGate.Conf
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "distributed")
    try f
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Spark jobs started on this thread while `f` runs. Jobs are tagged with
    * a thread-local job group; a sentinel job in a second group drains the
    * (asynchronous, FIFO) listener bus before counting. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"probe-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "jobsDuring")
      val r = try f finally sc.clearJobGroup()
      sc.setJobGroup(sentinel, "jobsDuring sentinel")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.contains(sentinel) && System.nanoTime() < deadline) Thread.sleep(10L)
      assert(seen.contains(sentinel), "listener bus did not drain")
      (r, seen.toArray.count(_ == group))
    } finally sc.removeSparkListener(listener)
  }
}
