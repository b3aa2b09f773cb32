package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** What one workload run hands back to [[Main]]. */
final case class Result(endToEnd: Seq[Metric], perLayer: Seq[Metric],
    report: Seq[Metric])

/** Run-wide state shared by the workloads: the session, the tracer, the
  * seed, the op counters and the correctness failures.
  */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val work: Path,
    val seed: Long, val seconds: Int, val cores: Int) {
  val attempted = new AtomicLong
  val failed = new AtomicLong
  private val failures = mutable.ArrayBuffer.empty[String]

  def fail(msg: String): Unit = synchronized {
    failures += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
  def failureList: Seq[String] = synchronized(failures.toList)

  /** One timed operation of a measured stream. An op that throws counts as
    * attempted and failed and adds no sample: a failure is never timed as
    * a success.
    */
  def op[T](timing: Timing, span: String, opId: Long)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    val t0 = System.nanoTime()
    try {
      val r = tracer.span(span, opId)(body)
      timing.add((System.nanoTime() - t0) / 1e6)
      Some(r)
    } catch {
      case NonFatal(e) =>
        failed.incrementAndGet()
        System.err.println(s"[perfbench] op $span#$opId failed: $e")
        None
    }
  }

  def dir(name: String): String = work.resolve(name).toString

  private val born = System.nanoTime()
  /** Logs the run's elapsed time at a phase boundary (stderr). */
  def phase(name: String): Unit =
    System.err.println(f"[perfbench] +${(System.nanoTime() - born) / 1e9}%.1fs $name")

  /** Set-up: one untimed pass that compiles Spark's plans and warms the
    * JIT, then [[Common.SetupReps]] timed passes; returns the median timed
    * wall in seconds.
    */
  def repeatedSetup(unit: Int => Unit): Double = {
    val walls = (0 to Common.SetupReps).map { i =>
      val t0 = System.nanoTime()
      tracer.span("setup", i)(unit(i))
      (System.nanoTime() - t0) / 1e9
    }
    System.err.println(f"[perfbench] set-up walls (s), untimed first: " +
      walls.map(w => f"$w%.3f").mkString(", "))
    Stats.median(walls.tail)
  }
}

/** Process-level readings: CPU, GC and the memory the program holds. */
object Proc {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcS: Double = {
    import scala.jdk.CollectionConverters._
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1e3
  }
  /** Heap in use after a full collection plus non-heap in use (metaspace,
    * code cache), in MB: what the program holds, whatever the heap's size.
    */
  def liveMb: Double = {
    val mem = ManagementFactory.getMemoryMXBean
    System.gc()
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  /** Bytes of the regular files under `root`, leaving out the checksum
    * side files the local Hadoop filesystem writes (names starting '.').
    */
  def treeBytes(root: Path): Long = {
    if (!Files.exists(root)) return 0L
    val walk = Files.walk(root)
    try {
      var total = 0L
      walk.forEach { p =>
        if (Files.isRegularFile(p) && !p.getFileName.toString.startsWith("."))
          total += Files.size(p)
      }
      total
    } finally walk.close()
  }

  /** Names of the segment dirs under an index dir, live or retired. */
  def listSegDirs(indexDir: String): Seq[String] = {
    val f = new java.io.File(indexDir)
    Option(f.list()).map(_.toSeq).getOrElse(Nil).filter(_.startsWith("seg-")).sorted
  }

  def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}

/** Benchmark entry point:
  * `--workload search|build --seed N --seconds S --trace 0|1 --work DIR`.
  * Prints every metric as a `[perfbench] name = value unit` line, then,
  * as the last line, one JSON object with the end-to-end metrics (trace 0)
  * or the per-layer metrics (trace 1). Exits 1 when a correctness gate
  * fails or an op throws.
  */
object Main {
  val Workloads: Seq[String] = Seq("search", "build")

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"[perfbench] $msg")
    System.err.println("usage: --workload <" + Workloads.mkString("|") +
      "> --seed <n> --seconds <s> --trace <0|1> --work <dir>")
    sys.exit(2)
  }

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def arg(k: String): String = kv.getOrElse(k, usage(s"missing $k"))
    val workload = arg("--workload")
    if (!Workloads.contains(workload)) usage(s"unknown workload '$workload'")
    val seed = arg("--seed").toLongOption.getOrElse(usage("bad --seed"))
    val seconds = arg("--seconds").toIntOption.filter(_ > 0)
      .getOrElse(usage("bad --seconds"))
    val trace = arg("--trace") match {
      case "0" => false
      case "1" => true
      case t   => usage(s"bad --trace '$t'")
    }
    val work = Paths.get(arg("--work")).toAbsolutePath
    Files.createDirectories(work)
    val cores = Runtime.getRuntime.availableProcessors

    val spark = session(cores, work)
    val tracer = new Tracer(trace, spark.sparkContext)
    val ctx = new Ctx(spark, tracer, work, seed, seconds, cores)
    val result =
      try tracer.span("run") {
        workload match {
          case "search" => new SearchWorkload(ctx).measure()
          case "build"  => new BuildWorkload(ctx).measure()
        }
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          ctx.fail(s"workload aborted: $e")
          Result(Nil, Nil, Nil)
      }

    tracer.drain()
    val traceMetrics =
      if (!trace) Nil
      else {
        val spansFile = work.getParent.resolve(s"spans-$workload-$seed.jsonl")
        tracer.write(spansFile)
        System.err.println(s"[perfbench] spans written to $spansFile")
        val unattributed = tracer.unattributedJobs
        ctx.check(unattributed == 0,
          s"$unattributed Spark jobs ran outside every benchmark span")
        Seq(Metric("trace.spans", tracer.allSpans.size, "count"),
          Metric("trace.unattributed_jobs", unattributed, "count"),
          Metric("trace.fallback_jobs", tracer.fallbackJobs, "count"))
      }
    spark.stop()

    val attempted = ctx.attempted.get()
    val failed = ctx.failed.get()
    ctx.check(attempted > 0, "no operation was attempted")
    ctx.check(failed == 0, s"$failed of $attempted operations threw")
    val correct = ctx.failureList.isEmpty && result.endToEnd.nonEmpty
    val failFrac = if (attempted == 0) 1.0 else failed.toDouble / attempted
    val shown = (result.report :+ Metric("fail_frac", failFrac, "ratio")) ++
      result.endToEnd ++ result.perLayer ++ traceMetrics
    shown.foreach(m => println(s"[perfbench] ${m.name} = ${num(m.value)} ${m.unit}"))
    val metrics = if (trace) result.perLayer ++ traceMetrics else result.endToEnd
    println(json(correct, attempted, failed, metrics))
    System.out.flush()
    sys.exit(if (correct) 0 else 1)
  }

  /** Every digit as measured; a non-finite value (no sample) prints 0. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  def json(correct: Boolean, attempted: Long, failed: Long,
      metrics: Seq[Metric]): String = {
    val ms = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {${ms.mkString(", ")}}}"""
  }
}
