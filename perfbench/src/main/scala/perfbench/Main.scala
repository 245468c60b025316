package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Graft
import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One benchmark run: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --out <file> --work <dir>`. Writes the raw run record
  * (samples, checks, spans) as JSON to `--out`; `run.py` turns it into
  * metrics.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val trace = opt.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors()
    val t0 = System.nanoTime()
    val spark = Graft.session(master = s"local[$cores]")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val runId = s"$workload-$seed-${System.currentTimeMillis()}"
    val probe = if (trace) new Tracer(spark, runId) else Untraced
    val rec = new Recorder(spark, probe, Paths.get(opt("work")), opt("seconds").toDouble)
    rec.phase(f"session ($sessionS%.1f s)")
    workload match {
      case "ecs_step" => EcsStep.run(spark, probe, rec, seed)
      case "ecs_query" => EcsQuery.run(spark, probe, rec, seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    rec.phase("workload")
    val spans = probe match {
      case t: Tracer => rec.extra("trace.probe_overhead_ms", t.overheadMs); t.finish()
      case _ => Seq.empty
    }
    val sc = spark.sparkContext
    val record = Map[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "run_id" -> runId,
      "machine" -> Map[String, Any](
        "cores" -> cores, "master" -> sc.master,
        "ram_bytes" -> memTotalBytes,
        "free_disk_bytes" -> Paths.get(".").toFile.getUsableSpace,
        "xmx_bytes" -> Runtime.getRuntime.maxMemory,
        "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
        "block_capacity_bytes" -> sc.getExecutorMemoryStatus.values.map(_._1).sum,
        "session_s" -> sessionS),
      "setup_s" -> rec.setupS, "measured_s" -> rec.measuredNs / 1e9,
      "ops" -> rec.ops.map { case (t, ms, ok) => Map("type" -> t, "ms" -> ms, "ok" -> ok) },
      "peak_block_bytes" -> rec.peakBlockBytes,
      "samples" -> rec.samples.map { case (k, v) => k -> v.toSeq },
      "extra" -> rec.extras,
      "checks" -> rec.checks.map { case (n, ok) => Map("name" -> n, "ok" -> ok) },
      "spans" -> spans)
    Files.writeString(Paths.get(opt("out")),
      new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(record))
    spark.stop()
  }

  private def memTotalBytes: Long =
    scala.util.Try(Files.readAllLines(Paths.get("/proc/meminfo")).asScala
      .find(_.startsWith("MemTotal:")).map(_.split("\\s+")(1).toLong * 1024).getOrElse(0L))
      .getOrElse(0L)
}

/** Collects one run's samples. Only time spent inside [[op]] counts as
  * measured; checks, clean-up and set-up stay outside it.
  */
final class Recorder(spark: SparkSession, probe: Probe, work: Path, seconds: Double) {
  val setupS = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[(String, Double, Boolean)]
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val extras = mutable.LinkedHashMap.empty[String, Any]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  var measuredNs = 0L
  var peakBlockBytes = 0L

  var warming = false

  def done: Boolean = measuredNs / 1e9 >= seconds

  /** Run `f` with [[op]] timing switched off (JIT and cache warm-up). */
  def warmUp(f: => Unit): Unit = {
    warming = true
    try probe.span("bench", "warmup")(f) finally warming = false
  }

  /** Time one closed-loop operation; a thrown error counts as failed. */
  def op[A](kind: String)(f: => A): Option[A] = {
    if (warming) return Some(probe.span("bench", s"op.$kind")(f))
    val t = System.nanoTime()
    val out =
      try Some(probe.span("bench", s"op.$kind")(f))
      catch { case e: Exception => System.err.println(s"op $kind failed: $e"); None }
    val ns = System.nanoTime() - t
    measuredNs += ns
    ops += ((kind, ns / 1e6, out.isDefined))
    pollBlocks()
    out
  }

  /** Mark the last operation wrong (its result failed validation). A
    * warm-up op is not recorded, so its wrong result counts as a failed
    * check.
    */
  def wrong(kind: String, why: String): Unit = {
    System.err.println(s"op $kind returned a wrong result: $why")
    if (warming) checks += ((s"warm-up $kind", false))
    else {
      val (k, ms, _) = ops.last
      ops(ops.size - 1) = (k, ms, false)
    }
  }

  /** Time one set-up; a warm-up's set-up is not a sample. */
  def timedSetup[A](f: => A): A = {
    val t = System.nanoTime()
    val out = probe.span("bench", "setup")(f)
    if (!warming) setupS += (System.nanoTime() - t) / 1e9
    pollBlocks()
    out
  }

  def sample(key: String, v: Double): Unit =
    samples.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += v

  def extra(key: String, v: Any): Unit = extras(key) = v

  def check(name: String, ok: Boolean, detail: => String): Unit = {
    if (!ok) System.err.println(s"check $name failed: $detail")
    checks += ((name, ok))
  }

  def pollBlocks(): Unit =
    peakBlockBytes = math.max(peakBlockBytes,
      spark.sparkContext.getRDDStorageInfo.map(_.memSize).sum)

  /** Drop every cached block (the previous world's checkpoints). */
  def releaseBlocks(): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  /** Log the JVM's age at the end of a phase. */
  def phase(name: String): Unit = System.err.println(
    f"perfbench: $name done at ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.1f s")

  def dir(name: String): String = work.resolve(name).toAbsolutePath.toString

  def dirBytes(d: String): (Long, Long) = {
    val p = Paths.get(d)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val files = Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }
  }

  def deleteDir(d: String): Unit = {
    val p = Paths.get(d)
    if (Files.exists(p))
      Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)
  }
}
