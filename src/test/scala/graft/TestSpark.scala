package graft

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One shared local session for the whole test run. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = graft.core.Engine.local(4, "graft-test", 4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** The Spark jobs `body` starts on this thread, and the ids of the
   *  RDDs it leaves persisted. Jobs are counted through a job tag held
   *  for the body's duration, after the listener bus has delivered
   *  every event. */
  def jobsDuring(body: => Any): (Int, Set[Int]) = {
    val sc = spark.sparkContext
    val tag = s"graft-jobs-${System.nanoTime}"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
            .exists(_.split(",").contains(tag))) n.incrementAndGet()
    }
    val before = sc.getPersistentRDDs.keySet
    sc.addSparkListener(listener)
    sc.addJobTag(tag)
    try { body; org.apache.spark.graft.BenchInternals.drainListenerBus(sc) }
    finally { sc.removeJobTag(tag); sc.removeSparkListener(listener) }
    (n.get, (sc.getPersistentRDDs.keySet -- before).toSet)
  }

  /** A new directory `<java.io.tmpdir>/<prefix><random>`, deleted with
   *  everything under it when the test JVM exits (tests run forked, so
   *  that is the end of the run). */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix)
    sys.addShutdownHook(deleteRecursively(dir))
    dir.toString
  }

  // best effort: a file that vanishes or appears mid-walk (a Spark
  // shutdown hook still closing a stream) must not fail JVM exit
  private def deleteRecursively(dir: Path): Unit =
    try {
      val paths = Files.walk(dir)
      try paths.sorted(Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally paths.close()
    } catch {
      case _: java.io.IOException | _: java.io.UncheckedIOException =>
    }
}
