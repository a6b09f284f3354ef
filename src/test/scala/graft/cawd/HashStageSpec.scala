package graft.cawd

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.{GraftSession, Sizing}

/** The hash stage of [[CawdEngine.chunkFiles]] is sized and balanced by the
  * file bytes it reads: it runs [[Sizing.hashTasks]] tasks over the run's
  * bytes on an AQE-on session (where AQE would coalesce an exchange sized
  * by its ~100 B metas to one task) and on the AQE-off ingest child, each
  * task hashes at most its even share plus one stripe, and every chunk's
  * signature equals a whole-file [[RegionHash.hashChunks]] pass.
  */
class HashStageSpec extends AnyFunSuite {

  /** Three ORC files of unequal size (~0.3, ~1.1 and ~2.6 MB) with small
    * stripes, so the run's bytes split across tasks mid-file.
    */
  private def fixture(spark: SparkSession): String = {
    val work = Files.createTempDirectory("hash-stage-src").toString
    val dir = Files.createTempDirectory("hash-stage").toString
    Seq("a" -> 4000L, "b" -> 15000L, "c" -> 36000L).foreach { case (name, rows) =>
      spark.range(0, rows).select(col("id"),
        sha2(concat(lit(name), col("id").cast("string")), 512).as("h"))
        .coalesce(1).write.option("orc.stripe.size", "131072").orc(s"$work/$name")
      val part = new java.io.File(s"$work/$name").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".orc")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(dir, s"$name.orc"))
    }
    dir
  }

  /** Rows of `body` and the task count of the last stage it ran — the
    * hash stage when `body` collects a chunk relation.
    */
  private def lastStageTasks[T](spark: SparkSession)(body: => T): (T, Int) = {
    val group = "hash-stage-spec"
    val stages = new ConcurrentHashMap[Int, Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          stages.put(e.stageInfo.stageId, e.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, "hash stage")
    try {
      val out = body
      ListenerBusDrain.drain(spark.sparkContext)
      (out, stages.asScala.maxBy(_._1)._2)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
  }

  private def isOverlay(c: FileChunk) =
    c.chunkType == ChunkType.Column && c.parentSeq != -1

  test("the hash stage runs hashTasks byte-balanced tasks on an AQE-on " +
    "session and on the ingest child") {
    val spark = GraftSession.get("hash-stage-spec")
    try {
      val files = CawdEngine.listFiles(fixture(spark), ".orc")
      val plans = files.map { case (f, r) => OrcChunker.plan(f, r, OrcChunker.StripeColumn) }
      val lengths = plans.map(_.filterNot(isOverlay).map(_.size).sum)
      val total = lengths.sum
      val tasks = Sizing.hashTasks(total, Sizing.cores(spark))
      assert(tasks > 1, s"$total bytes must need more than one hash task")
      // a stripe: a top-level chunk with the chunks linked to it
      val largestStripe = plans.flatMap(_.filterNot(isOverlay)
        .groupMapReduce(c => if (c.parentSeq == -1) c.seq else c.parentSeq)(_.size)(_ + _)
        .values).max
      val reference = files.zip(plans).flatMap { case ((f, _), metas) =>
        RegionHash.hashChunks(f, metas, withContent = false)
      }.map(c => (c.file, c.seq, c.signature.toSeq)).toSet

      for ((posture, sess) <- Seq("AQE on" -> spark,
                                  "ingest child" -> CawdEngine.ingestSession(spark))) {
        val (rows, ran) = lastStageTasks(sess) {
          CawdEngine.chunkFiles(sess, files, CawdEngine.Orc, OrcChunker.StripeColumn)
            .toDF().filter(col("parentSeq") =!= -2)
            .select(col("file"), col("seq"), col("chunkType"), col("parentSeq"),
              col("size"), col("signature"), spark_partition_id().as("task"))
            .collect().toSeq
        }
        assert(ran == tasks, s"$posture: hash stage ran $ran tasks, want $tasks")
        val perTask = rows.filterNot(r => r.getString(2) == ChunkType.Column &&
            r.getInt(3) != -1)
          .groupMapReduce(_.getInt(6))(_.getLong(4))(_ + _)
        val share = (total + tasks - 1) / tasks
        assert(perTask.size == tasks, s"$posture: tasks with chunks $perTask")
        perTask.foreach { case (t, bytes) =>
          assert(bytes <= share + largestStripe,
            s"$posture: task $t hashed $bytes bytes, share $share + stripe $largestStripe")
        }
        val got = rows.map((r: Row) =>
          (r.getString(0), r.getInt(1), r.getAs[Array[Byte]](5).toSeq)).toSet
        assert(got == reference, s"$posture: signatures differ from whole-file hashing")
        assert(got.size == rows.size)
      }
    } finally spark.stop()
  }
}
