package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dumps `.explain("formatted")` for named entries to per-entry files —
  * the optimization-round before/after plan artifact
  * (`plans/r17/<entry>_{before,after}.txt`). Run:
  * `runMain graft.PlanDump <sfDir> <outDir> <suffix> <e1,e2,...>`. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length < 4) {
      System.err.println(
        "usage: graft.PlanDump <sfDir> <outDir> <suffix> <e1,e2,...>")
      sys.exit(2)
    }
    val Array(sfDir, outDir, suffix, names) = args.take(4)
    val spark = Session.builder(8).getOrCreate()
    Files.createDirectories(Paths.get(outDir))
    names.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
      val txt =
        try SparkEntry.queries(n)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        catch { case e: Throwable => s"ERROR: ${e.getMessage}" }
      Files.write(Paths.get(outDir, s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      println(s"[plandump] $n -> $outDir/${n}_$suffix.txt")
    }
    spark.stop()
  }
}
