package graft

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.ext.Dedup
import graft.streaming.StreamPipeline

/** The finite-replay helper (`StreamPipeline.Replay`): every harness runs
  * its streaming query in its own session, owns and deletes its work
  * dir, and the replay boilerplate cannot grow back outside it. */
class ReplaySpec extends SparkSpec {

  test("a replay never writes the caller's session conf, not even " +
      "while it runs, and kq23 still equals the batch fixpoint") {
    val keys = Seq("spark.sql.shuffle.partitions",
      "spark.sql.streaming.stateStore.providerClass")
    def snapshot(): Seq[Option[String]] = keys.map(spark.conf.getOption)
    val before = snapshot()
    val env = Pipeline.envelope(spark, sf)
    // kq23 runs transformWithState, so its replay needs both settings
    val run = Future(StreamPipeline.keyStatsBatch(spark, env,
      Pipeline.ValueJsonField).collect().toSeq)(ExecutionContext.global)
    val seen = scala.collection.mutable.Set.empty[Seq[Option[String]]]
    var polls = 0
    while (!run.isCompleted) {
      seen += snapshot(); polls += 1
      Thread.sleep(2)
    }
    val got = Await.result(run, Duration.Inf)
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(polls > 50, s"the conf was polled only $polls times")
    assert(seen == Set(before), s"caller conf moved during the replay: $seen")
    assert(snapshot() == before)
    val want = env
      .select(col("topic"), col("key"), col("offset"),
        col(s"message.${Pipeline.ValueJsonField}").as("value_json"))
      .groupBy(col("topic"), col("key"))
      .agg(count(lit(1)), max(col("offset")),
        max_by(col("value_json"), col("offset")))
      .orderBy(col("topic"), col("key"))
      .collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    assert(got == want)
    assert(got.exists(_._3 > 1)) // some key genuinely folds several rows
  }

  test("a replay without transformWithState keeps the caller's state " +
      "store provider, and its memory sink view ends with it") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val (r, provider, n) = StreamPipeline.Replay(spark) { r =>
      val counts = r.toMemory(r.input(spark.range(100).toDF())
        .groupBy(col("id") % 7).count(), OutputMode.Complete())
      (r, r.session.conf.get(key), counts.count())
    }
    assert(provider == spark.conf.get(key))
    assert(n == 7)
    assert(!r.session.catalog.tableExists("replay"))
  }

  test("x93 leaves no work directory behind in java.io.tmpdir") {
    // the first call builds the shared on-disk corpus index
    Dedup.streamingIndexAppend(spark, sf).collect()
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs(): Set[String] =
      tmp.listFiles().filter(_.isDirectory).map(_.getName).toSet
    val before = dirs()
    assert(Dedup.streamingIndexAppend(spark, sf).collect().nonEmpty)
    assert(dirs() -- before == Set.empty)
  }

  /** (path relative to `src/main/scala`, code line) for every
    * non-comment line of the main sources. */
  private lazy val code: Seq[(String, String)] = {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"no sources under ${root.getAbsolutePath}")
    def files(d: java.io.File): Seq[java.io.File] =
      d.listFiles().toSeq.flatMap(f =>
        if (f.isDirectory) files(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil)
    files(root).flatMap { f =>
      val path = root.toPath.relativize(f.toPath).toString
      java.nio.file.Files.readAllLines(f.toPath).asScala.toSeq
        .filterNot { l =>
          val t = l.trim
          t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")
        }.map(path -> _)
    }
  }

  /** The file of each code line `pattern` matches, once per line. */
  private def where(pattern: String): Seq[String] =
    code.collect { case (p, l) if pattern.r.findFirstIn(l).isDefined => p }

  test("guard: Trigger.AvailableNow, the state-store provider and " +
      "streaming conf writes appear only inside the replay helper") {
    val helper = "graft/streaming/StreamPipeline.scala"
    // each lives once, in the helper: Replay.run and Replay.session
    assert(where("Trigger\\.AvailableNow") == Seq(helper))
    assert(where("stateStore\\.providerClass") == Seq(helper))
    // the helper's three: the conf copy, 8 partitions, RocksDB; and one
    // session builder
    assert(where("conf\\.(set|unset)\\(") == Seq.fill(3)(helper))
    assert(where("SparkSession\\.builder") == Seq("graft/Session.scala"))
    // the stored-index location is written once, behind BucketedTables
    assert(where("graft_index") == Seq("graft/sink/BucketedTables.scala"))
    // uid uniqueness has one owner, the sink's append: no reader dedups
    val sink = "graft/sink/ChangelogSink.scala"
    assert(where("dropDuplicates\\(\"uid\"\\)") == Seq(sink))
    // every changelog write goes through the sink's one staged commit:
    // one DataFrame write in the file, and no thread pool of its own
    assert(where("\\.write\\b").filter(_ == sink) == Seq(sink))
    assert(where("Executors\\.").filter(_.startsWith("graft/sink/")).isEmpty)
    // a parquet read with no schema runs an inference job; it lives
    // only in the job-free open helper, and every other read goes
    // through it or passes .schema(...). Matched on each file's joined
    // code lines, so a read split across lines or given options counts
    val text = code.groupBy(_._1).map { case (p, ls) =>
      p -> ls.map(_._2).mkString("\n") }
    assert(text.collect { case (p, t)
        if "read(\\s*\\.option\\([^)]*\\))*\\s*\\.parquet\\(".r
          .findFirstIn(t).isDefined => p }.toSeq ==
      Seq("graft/ingest/Tables.scala"))
  }

  test("guard: the envelope's flat view is written once, in " +
      "Envelope.flat") {
    // a second `message.*` projection is a second copy of the flat shape
    assert(where("message\\.\\*") == Seq("graft/model/Envelope.scala"))
  }
}
