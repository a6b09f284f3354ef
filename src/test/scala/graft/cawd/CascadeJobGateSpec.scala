package graft.cawd

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.logical.Union
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** The paper's path is bound by Spark jobs, not bytes: a small s+p ingest
  * spends its time scheduling jobs and stages. This pins the number of
  * jobs and stages one [[CawdEngine.dedupStats]] of [[Variant.OrcSp]] runs,
  * and the jobs of one [[CawdEngine.reconstructTo]],
  * so a plan change that adds either shows up here before it shows up as
  * time.
  */
class CascadeJobGateSpec extends AnyFunSuite with BeforeAndAfterAll {

  /** Jobs and stages of `dedupStats(OrcSp)` over the multi-stripe fixture,
    * measured with each file followed by a byte-identical copy: the
    * checkpoint of the rollup, then its collect.
    */
  private val MaxJobs = 2
  private val MaxStages = 8

  /** Jobs of `reconstructTo(chunkFiles(withContent = true))` over the same
    * fixture, its chunks built on an AQE-on session: one, whose stages are
    * the plan, the hash tasks and the writers.
    */
  private val MaxRestoreJobs = 1

  private lazy val spark: SparkSession = GraftSession.get("cascade-job-gate-spec")
  private val group = "cascade-job-gate"
  private val jobs = new AtomicInteger
  private val stages = new AtomicInteger
  private val listener = new SparkListener {
    private def inGroup(p: java.util.Properties): Boolean =
      Option(p).exists(_.getProperty("spark.jobGroup.id") == group)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      if (inGroup(e.properties)) jobs.incrementAndGet()
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      if (inGroup(e.properties)) stages.incrementAndGet()
  }
  private var work: String = _
  private var dir: String = _
  private def files = CawdEngine.listFiles(dir, ".orc")

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("job-gate-src").toString
    dir = Files.createTempDirectory("job-gate").toString
    spark.range(0, 20000).select(col("id"),
      (col("id") % 13).cast("double").as("d"),
      concat(lit("text-"), col("id") % 97).as("s"))
      .orderBy("id").coalesce(1).write
      .option("compression", "zlib").option("orc.stripe.size", "65536").orc(s"$work/orc")
    val part = new java.io.File(s"$work/orc").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".orc")).get
    Files.copy(part.toPath, java.nio.file.Paths.get(dir, "t.orc"))
    spark.sparkContext.addSparkListener(listener)
  }

  override def afterAll(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.stop()
  }

  /** `body`'s result, with the jobs and stages it ran counted afresh. */
  private def counted[T](what: String)(body: => T): T = {
    jobs.set(0); stages.set(0)
    spark.sparkContext.setJobGroup(group, what)
    try body
    finally {
      spark.sparkContext.clearJobGroup()
      ListenerBusDrain.drain(spark.sparkContext)
    }
  }

  test("dedupStats(orc-sp) runs at most the measured number of jobs") {
    val rows = counted("dedupStats(orc-sp)") {
      CawdEngine.dedupStats(spark, Variant.OrcSp, files, duplicate = true).collect()
    }
    assert(rows.exists(r => r.getAs[String]("metric") == Metric.StripeHit))
    info(s"jobs: ${jobs.get}, stages: ${stages.get}")
    assert(jobs.get > 0 && jobs.get <= MaxJobs, s"${jobs.get} jobs, gate $MaxJobs")
    assert(stages.get <= MaxStages, s"${stages.get} stages, gate $MaxStages")

    // the cascade reads its chunks once: no union of two filters of them
    val status = Dedup.hierarchicalStatus(
      Variant.OrcSp.chunk(spark, files).toDF())
    val unions = status.queryExecution.optimizedPlan.collect { case u: Union => u }
    assert(unions.isEmpty, status.queryExecution.optimizedPlan.treeString)
  }

  test("a restore of chunks built on an AQE-on session runs at most the " +
    "measured number of jobs") {
    val restored = counted("restore") {
      CawdEngine.reconstructTo(CawdEngine.chunkFiles(spark, files, CawdEngine.Orc,
        withContent = true), s"$work/restore").collect()
    }
    info(s"jobs: ${jobs.get}, stages: ${stages.get}")
    assert(restored.map(_.getAs[Long]("bytes")).sum ==
      new java.io.File(dir, "t.orc").length)
    assert(jobs.get > 0 && jobs.get <= MaxRestoreJobs,
      s"${jobs.get} jobs, gate $MaxRestoreJobs")
  }
}
