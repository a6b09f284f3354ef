package graft

import org.apache.spark.sql.functions._
import graft.cawd._

/** CLI entry point — the one-command replacement for the reference's
  * client/server script pairs (`scripts/{plain,orc/naive,orc/column,
  * orc/stripe+column,parquet/naive}/start{Client,Server}.sh`): run a dedup
  * pipeline over a directory and print the per-file + global transfer
  * stats the reference logs to client.log; optionally materialize
  * reconstructed files (the server's output directory).
  *
  * Usage:
  *   runMain graft.CawdMain <mode> <inputDir> [destDir] [--duplicate] [--store=DIR]
  *
  *   mode ∈ plain | orc-naive | orc-column | orc-sp | parquet | cdc —
  *   every mode but `plain` is a [[graft.cawd.Variant]] run through
  *   [[graft.cawd.CawdEngine.dedupStats]].
  *   --duplicate re-sends every file as a byte-identical copy (the
  *   README's warm-store experiment). `cdc` is the content-defined
  *   chunking baseline ([[graft.cawd.CdcChunker]]) over any file type.
  *   --store=DIR makes the run INCREMENTAL (flat modes): chunks probe the
  *   persisted signature store at DIR first, and this run's misses are
  *   appended under a new batch partition — the reference's long-lived
  *   server store, as successive CLI invocations.
  */
object CawdMain {
  private def fail(msg: String): Nothing = {
    System.err.println(msg); sys.exit(2)
  }

  def main(args: Array[String]): Unit = {
    val pos = args.filterNot(_.startsWith("--"))
    if (pos.length < 2)
      fail(s"usage: CawdMain <${("plain" +: Variant.all.map(_.name)).mkString("|")}> " +
        "<inputDir> [destDir] [--duplicate] [--store=DIR]")
    val mode = pos(0)
    val inDir = pos(1)
    val dest = pos.lift(2)
    val duplicate = args.contains("--duplicate")
    val storeDir = args.collectFirst { case a if a.startsWith("--store=") =>
      a.stripPrefix("--store=") }
    // None = the plain baseline, which frames every file and dedups nothing
    val variant = if (mode == "plain") None
      else Some(Variant.byName(mode).getOrElse(fail(s"unknown mode '$mode'")))
    if (variant.isEmpty && storeDir.nonEmpty)
      fail(s"--store is not supported for mode '$mode'")
    val files = CawdEngine.listFiles(inDir, variant.fold("")(_.suffix))
    val spark = GraftSession.get(s"graft-cawd-$mode")

    val stats = variant match {
      case Some(v) =>
        try CawdEngine.dedupStats(spark, v, files, duplicate, storeDir)
        catch { case e: IllegalArgumentException => fail(e.getMessage) }
      case None =>
        val perFile = CawdEngine.plainFrames(spark, files).toDF()
          .groupBy(col("file"))
          .agg(sum(col("size")).as("transfer"), count(lit(1)).as("frames"))
        Stats.rollup(perFile
          .select(col("file"), lit(Metric.TransferBytes).as("metric"),
            col("transfer").cast("double").as("value"), lit(Metric.Bytes).as("unit"))
          .unionByName(perFile
            .select(col("file"), lit("Frames").as("metric"),
              col("frames").cast("double").as("value"), lit(Metric.Count).as("unit"))))
    }
    stats.orderBy("file", "metric").show(10000, truncate = false)

    dest.foreach { out =>
      // plain mode framed EVERY file, so reconstruction must too — the
      // frame table IS its chunk table; the variants re-chunk with content
      // for the ordered write
      val chunks = variant.fold(
        CawdEngine.plainFrames(spark, files, withContent = true))(
        _.chunk(spark, files, withContent = true))
      CawdEngine.reconstructTo(chunks, out).show(10000, truncate = false)
    }
    spark.stop()
  }
}
