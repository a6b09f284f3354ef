package graft.cawd

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The warm-store probe of [[Dedup.markFirstOccurrence]] on each side of
  * its two size limits: one In chunk, several In chunks (more than
  * [[Dedup.InPushdownChunk]] signatures) and the semi-join fallback (more
  * than [[Dedup.MaxInPushdownSigs]]). Every status must equal the
  * sequential fold the probe replaces, and every plan must broadcast the
  * hits back onto the batch with AQE on and with AQE off (the posture of
  * a batch ingest, [[CawdEngine.ingestSession]]), where no re-planning
  * can turn a sort-merge join into a broadcast.
  */
class StoreProbeSpec extends AnyFunSuite {

  private def sig(i: Int): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-1").digest(s"s$i".getBytes)

  private def hexOf(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  test("store probe matches a sequential fold across the In-chunk and " +
    "pushdown-cap boundaries") {
    val spark = GraftSession.get("store-probe-spec")
    val aqeOff = GraftSession.child(spark, "store-probe-aqe-off", aqe = false)
    import spark.implicits._
    try {
      Seq(300, 1300, 5000).foreach { n =>
        val store = Files.createTempDirectory(s"store-probe-$n").toString
        // every other signature of 0 until 2n is stored: the bulk
        // (clustered) partition holds i % 4 == 0, a micro-batch partition
        // written from three tasks holds i % 4 == 2
        val stored = (0 until 2 * n by 2)
        def part(is: Seq[Int]) =
          is.map(i => (sig(i), "DataPageV1", 10L)).toDF("signature", "chunkType", "size")
        StreamingEngine.writeStorePartition(part(stored.filter(_ % 4 == 0)),
          s"$store/batch=-1", clustered = true)
        StreamingEngine.writeStorePartition(part(stored.filter(_ % 4 == 2)).repartition(3),
          s"$store/batch=0")

        // n distinct signatures in (fileRank, seq) order, then a resend of
        // every 7th one in a later file
        val rows = (0 until n).map(i => (i % 3, i, i)) ++
          (0 until n by 7).map(i => (3, i, i))
        val probeRows = rows.map { case (rank, seq, i) => ("f", rank, seq, sig(i)) }
        for (sess <- Seq(spark, aqeOff)) {
          val probe = sess.createDataFrame(probeRows)
            .toDF("file", "fileRank", "seq", "signature")
          val marked = Dedup.markFirstOccurrence(probe, "seq",
            StreamingEngine.readStore(sess, store))

          val seen = scala.collection.mutable.Set(stored.map(i => hexOf(sig(i))): _*)
          val expected = rows.sortBy { case (rank, seq, _) => (rank, seq) }
            .map { case (rank, seq, i) =>
              (rank, seq) -> (if (seen.add(hexOf(sig(i)))) "miss" else "hit")
            }.toMap
          val got = marked.select(col("fileRank"), col("seq"), col("status")).collect()
            .map(r => (r.getInt(0), r.getInt(1)) -> r.getString(2)).toMap
          assert(got.size == rows.length && got == expected,
            s"$n signatures: ${got.count { case (k, v) => !expected.get(k).contains(v) }} " +
              "statuses differ from the fold")

          // the path each size takes: one store scan per In chunk up to the
          // cap, a semi join over it; either way the hits broadcast
          val plan = marked.queryExecution.executedPlan.toString
          if (n <= Dedup.MaxInPushdownSigs)
            assert("FileScan parquet".r.findAllIn(plan).length ==
              (n + Dedup.InPushdownChunk - 1) / Dedup.InPushdownChunk, plan)
          else assert(plan.contains("LeftSemi"), plan)
          assert("BroadcastHashJoin \\[signature#\\d+\\], \\[signature#\\d+\\], LeftOuter"
            .r.findFirstIn(plan).nonEmpty && !plan.contains("SortMergeJoin"), plan)
        }
      }
    } finally spark.stop()
  }
}
