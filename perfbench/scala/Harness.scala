package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Benchmark process: set-up, timed closed loop, output checks.
  *
  * Usage: `Harness --workload <name> --seed <n> --inputs <dir> --work <dir>
  * --seconds <n> --trace <0|1> --out <file.json>`. Writes the raw samples
  * (set-up times, one record per operation, checks, spans) as JSON; the
  * metrics are derived from them by `perfbench/metrics.py`.
  */
object Harness {
  /** Operations run even past the window, so a run always has several to
    * take the best of. */
  val MinOps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val inputs = opt("inputs")
    val work = opt("work")
    val windowS = opt("seconds").toDouble
    val trace = opt("trace") == "1"

    val wl: Workload = workload match {
      case "orc_versions" => new OrcVersions(inputs, work)
      case "stream_waves" => new StreamWaves(inputs, work,
        new File(inputs).listFiles().count(_.getName.matches("w\\d+")))
      case "pack_mix" => new PackMix(inputs, opt("seed").toLong)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up: JVM start -> session ready -> warm-up operation done
    val cpu0 = CpuTicks.read()
    val spark = graft.GraftSession.get("perfbench")
    val tr = new Tracer(spark.sparkContext)
    wl.warmup(spark, tr)
    val setup = Map(
      "seconds" -> (System.currentTimeMillis() -
        ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3,
      "steal" -> CpuTicks.read().stealShareSince(cpu0))

    val checks = mutable.ArrayBuffer.empty[Check]
    checks ++= wl.prepare(spark)

    // timed loop; in a traced run every second operation is traced, so the
    // untraced ones in between measure the tracing overhead in the same JVM
    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = System.nanoTime()
    var k = 0
    while (((System.nanoTime() - t0) / 1e9 < windowS || k < wl.minOps) && !wl.exhausted(k)) {
      val traced = trace && k % 2 == 1
      val t = System.nanoTime()
      val cpu0 = processCpuNs()
      val ticks0 = CpuTicks.read()
      val rec = mutable.Map[String, Any]("id" -> k, "traced" -> traced)
      try {
        val r =
          if (!traced) wl.op(spark, k, tr)
          else tr.traceOp(k) {
            val res = wl.op(spark, k, tr)
            wl.planAndHash(k, tr)
            res
          }
        rec ++= Map("seconds" -> r.parts.values.sum, "bytes" -> r.bytes, "parts" -> r.parts,
          "cpu_s" -> (processCpuNs() - cpu0) / 1e9,
          "steal" -> CpuTicks.read().stealShareSince(ticks0),
          "failed_checks" -> r.checks.filterNot(_.ok).map(_.name))
        rec("ok") = r.checks.forall(_.ok)
      } catch {
        case e: Throwable =>
          rec ++= Map("ok" -> false, "seconds" -> (System.nanoTime() - t) / 1e9,
            "error" -> e.toString)
      }
      ops += rec.toMap
      k += 1
    }
    val windowSeconds = (System.nanoTime() - t0) / 1e9

    val (finalChecks, traffic) =
      try wl.finish(spark, k)
      catch { case e: Throwable => (Seq(Check("finish", ok = false, e.toString)), Double.NaN) }
    checks ++= finalChecks

    val gcS = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1e6
    val result = Map(
      "workload" -> workload,
      "setup" -> setup,
      "window_s" -> windowSeconds,
      "ops" -> ops.toSeq,
      "checks" -> checks.toSeq.map(c => Map("name" -> c.name, "ok" -> c.ok, "detail" -> c.detail)),
      "traffic_pct" -> traffic,
      "vmhwm_kb" -> vmHwmKb(),
      "jvm_gc_s" -> gcS,
      "jvm_heap_peak_mb" -> heapPeakMb,
      "env" -> Map(
        "cores" -> spark.sparkContext.defaultParallelism,
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1e6,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "spans" -> tr.toSeq)
    new ObjectMapper().registerModule(DefaultScalaModule)
      .writeValue(new File(opt("out")), result)
    spark.stop()
  }

  /** CPU time of all threads of this process, in ns. */
  private def processCpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Peak resident set size of this process (Linux `VmHWM`), in KiB. */
  private def vmHwmKb(): Long = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toLong
    }.getOrElse(0L)
    finally src.close()
  }
}

/** Machine-wide CPU ticks from the first line of Linux `/proc/stat`: all of
  * them, and those the hypervisor gave to other guests ("steal"). */
final case class CpuTicks(total: Long, steal: Long) {
  /** Share of the machine's CPU time stolen since `before` (0 without ticks). */
  def stealShareSince(before: CpuTicks): Double =
    if (total > before.total) (steal - before.steal).toDouble / (total - before.total) else 0.0
}

object CpuTicks {
  def read(): CpuTicks = {
    val src = scala.io.Source.fromFile("/proc/stat")
    // cpu user nice system idle iowait irq softirq steal [guest guest_nice]
    val f = try src.getLines().next().trim.split("\\s+").drop(1).take(8).map(_.toLong)
            finally src.close()
    CpuTicks(f.sum, if (f.length == 8) f(7) else 0L)
  }
}
