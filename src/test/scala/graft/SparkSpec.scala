package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared SparkSession for all suites (one JVM-wide session; suites run
  * sequentially under sbt's forked test JVM). */
object SparkSpec {
  lazy val spark: SparkSession = Session.builder(4)
    .appName("graft-test")
    .config("spark.sql.warehouse.dir", "/tmp/graft-test-warehouse")
    .getOrCreate()
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf: String = "/root/testdata/sf0.001"

  /** `f`'s result and the Spark jobs it started on this thread. Only jobs
    * of a job group set for `f` count; a sentinel job run after `f`
    * flushes the asynchronous listener bus, so the count is complete on
    * return. */
  protected def withJobCount[T](f: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val group = s"jobs-during-${System.nanoTime()}"
    val sentinel = s"$group-sentinel"
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val flushed = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => jobs.incrementAndGet()
          case Some(`sentinel`) => flushed.countDown()
          case _ =>
        }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, group)
      val result = try f finally sc.setJobGroup(sentinel, sentinel)
      sc.parallelize(Seq(1), 1).count()
      assert(flushed.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the sentinel job")
      (result, jobs.get())
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
  }

  /** `f`'s result and the file-write commands (one per
    * `DataFrame.write`) that succeeded while it ran. Listener events
    * arrive asynchronously, so the count is read once it has held still
    * for a second. */
  protected def withWriteCount[T](f: => T): (T, Int) = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.datasources
      .InsertIntoHadoopFsRelationCommand
    val writes = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        if (qe.logical.exists(_.isInstanceOf[InsertIntoHadoopFsRelationCommand]))
          writes.incrementAndGet()
      override def onFailure(f: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val result = f
      var (last, stableFor) = (-1, 0)
      while (stableFor < 4) {
        Thread.sleep(250)
        if (writes.get() == last) stableFor += 1
        else { last = writes.get(); stableFor = 0 }
      }
      (result, writes.get())
    } finally spark.listenerManager.unregister(listener)
  }

  /** Fails unless the changelog table at `dir` stores each uid once. */
  protected def assertUidsUnique(dir: String): Unit = {
    val dups = graft.sink.ChangelogSink.read(spark, dir)
      .groupBy("uid").count().where("count > 1")
    assert(dups.isEmpty,
      s"uids stored more than once: ${dups.limit(5).collect().mkString(", ")}")
  }

  /** Run `f` with session confs temporarily set, restoring after. */
  protected def withSQLConf(kv: (String, String)*)(f: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
