package graft.cawd

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The paper's path is bound by Spark jobs, not bytes: a small s+p ingest
  * spends its time scheduling jobs and stages. This pins the number of
  * jobs and stages one [[CawdEngine.dedupStats]] of [[Variant.OrcSp]] runs,
  * so a plan change that adds either shows up here before it shows up as
  * time.
  */
class CascadeJobGateSpec extends AnyFunSuite {

  /** Jobs and stages of `dedupStats(OrcSp)` over the multi-stripe fixture,
    * measured with each file followed by a byte-identical copy: the
    * checkpoint of the rollup, then its collect.
    */
  private val MaxJobs = 2
  private val MaxStages = 8

  test("dedupStats(orc-sp) runs at most the measured number of jobs") {
    val spark: SparkSession = GraftSession.get("cascade-job-gate-spec")
    val dir = Files.createTempDirectory("job-gate").toString
    val group = "cascade-job-gate"
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    def inGroup(p: java.util.Properties): Boolean =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (inGroup(e.properties)) jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (inGroup(e.properties)) stages.incrementAndGet()
    }
    try {
      val work = Files.createTempDirectory("job-gate-src").toString
      spark.range(0, 20000).select(col("id"),
        (col("id") % 13).cast("double").as("d"),
        concat(lit("text-"), col("id") % 97).as("s"))
        .orderBy("id").coalesce(1).write
        .option("compression", "zlib").option("orc.stripe.size", "65536").orc(s"$work/orc")
      val part = new java.io.File(s"$work/orc").listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".orc")).get
      Files.copy(part.toPath, java.nio.file.Paths.get(dir, "t.orc"))
      val files = CawdEngine.listFiles(dir, ".orc")

      spark.sparkContext.addSparkListener(listener)
      spark.sparkContext.setJobGroup(group, "dedupStats(orc-sp)")
      val rows = try CawdEngine.dedupStats(spark, Variant.OrcSp, files, duplicate = true)
        .collect()
      finally spark.sparkContext.clearJobGroup()
      ListenerBusDrain.drain(spark.sparkContext)
      assert(rows.exists(r => r.getAs[String]("metric") == Metric.StripeHit))
      info(s"jobs: ${jobs.get}, stages: ${stages.get}")
      assert(jobs.get > 0 && jobs.get <= MaxJobs, s"${jobs.get} jobs, gate $MaxJobs")
      assert(stages.get <= MaxStages, s"${stages.get} stages, gate $MaxStages")

      // the cascade reads its chunks once: no union of two filters of them
      val status = Dedup.hierarchicalStatus(
        Variant.OrcSp.chunk(spark, files).toDF())
      val unions = status.queryExecution.optimizedPlan.collect { case u: Union => u }
      assert(unions.isEmpty, status.queryExecution.optimizedPlan.treeString)
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.stop()
    }
  }
}
