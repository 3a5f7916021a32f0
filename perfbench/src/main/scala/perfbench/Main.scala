package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.core.GraftSession

/** One workload run in a fresh JVM, driven by `perfbench/run.py`:
  *
  *   set-up (repeated `--setup-reps` times from a clean root; the last one
  *   is kept) -> cold pass (pass 0) -> whole passes until `--seconds` have
  *   elapsed (at least one; two when traced) -> export of the outputs for
  *   the correctness check.
  *
  * With `--trace 1` the timed passes alternate traced and untraced, so the
  * same run yields the spans and the tracing overhead. Writes
  * `<out>/result.json` (op samples, counters, JVM figures) and, when
  * traced, `<out>/spans.jsonl`. */
object Main {

  final case class Sample(pass: Int, idx: Int, kind: String, layer: String, start: Long,
                          end: Long, wchar: Long, rows: Long, inBytes: Long, traced: Boolean,
                          ok: Boolean, err: String)

  /** Bytes this process has passed to write(2) so far. */
  def wchar(): Long = procField("/proc/self/io", "wchar:")
  def vmHwmKb(): Long = procField("/proc/self/status", "VmHWM:")

  private def procField(file: String, key: String): Long =
    try Files.readAllLines(Paths.get(file)).asScala.find(_.startsWith(key))
      .map(_.stripPrefix(key).trim.split("\\s+")(0).toLong).getOrElse(-1L)
    catch { case _: Exception => -1L }

  /** A fixed pure-JVM loop; its time tracks how busy the machine is. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 50000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42) println("")
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val name = a("workload")
    val inputs = Paths.get(a("inputs"))
    val root = Paths.get(a("root"))
    val out = Paths.get(a("out"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus")
    val setupReps = a("setup-reps").toInt
    // a traced run needs at least one traced and one untraced timed pass
    val minPasses = if (traced) 2 else 1
    Files.createDirectories(out)

    val calBefore = calibrate()
    val spark = GraftSession.builder(cpus)
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("spark-warehouse").toString)
      .config("spark.sql.catalog.graft", classOf[graft.sql.GraftCatalog].getName)
      .config("spark.sql.catalog.graft.root", root.resolve("wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - calBefore
    val trace = new Trace(spark.sparkContext)
    if (traced) trace.install(spark)

    val w = Workloads(name, spark, inputs, root, out, trace, cpus.toInt)
    val setupS = (1 to setupReps).map { _ =>
      val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
    }
    println(f"perfbench: session ${sessionReadyS}%.2fs, set-up ${setupS.map(x => f"$x%.2f").mkString(" ")}s")

    val samples = mutable.ArrayBuffer.empty[Sample]
    val jit = ManagementFactory.getCompilationMXBean
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcTotals = (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)
    val classes = ManagementFactory.getClassLoadingMXBean
    val (gc0, gcMs0) = gcTotals
    val jit0 = jit.getTotalCompilationTime
    val cls0 = classes.getTotalLoadedClassCount

    val whRoot = root.resolve("wh")
    var idx = 0
    def runPass(p: Int, tracePass: Boolean): Unit = {
      trace.on = tracePass
      val ops = w.pass(p)
      ops.foreach { op =>
        val opIdx = idx
        idx += 1
        w.beforeOp(op, tracePass)
        val fp0 = if (tracePass) Workloads.footprint(whRoot) else (0L, 0L)
        val w0 = wchar()
        val t0 = trace.now()
        val err = try { trace.op(opIdx, s"op.${op.kind}")(op.body()); "" }
          catch { case e: Throwable => s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500) }
        val t1 = trace.now()
        println(f"perfbench: pass $p op $opIdx ${op.kind} ${(t1 - t0) / 1e9}%.3fs $err")
        val dw = wchar() - w0
        if (tracePass) {
          val fp1 = Workloads.footprint(whRoot)
          trace.count("core.bytes_written", math.max(0L, fp1._1 - fp0._1).toDouble)
          trace.count("core.files_written", math.max(0L, fp1._2 - fp0._2).toDouble)
        }
        samples += Sample(p, opIdx, op.kind, op.layer, t0, t1, dw, op.rows, op.inBytes,
          tracePass, err.isEmpty, err)
      }
      if (traced) trace.drain()
      trace.on = false
    }

    runPass(0, tracePass = false)
    val windowStart = trace.now()
    var p = 1
    while (p < w.passes && ((trace.now() - windowStart) / 1e9 < seconds || p <= minPasses)) {
      runPass(p, tracePass = traced && p % 2 == 1)
      p += 1
    }
    val windowEnd = trace.now()
    val (gc1, gcMs1) = gcTotals
    val heapPeakMb = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0
    val jvm = Map("jit_s" -> (jit.getTotalCompilationTime - jit0) / 1e3,
      "classes_loaded" -> (classes.getTotalLoadedClassCount - cls0).toDouble,
      "gc_s" -> (gcMs1 - gcMs0) / 1e3, "gc_count" -> (gc1 - gc0).toDouble,
      "heap_peak_mb" -> heapPeakMb)
    val peakRssMb = vmHwmKb() / 1024.0
    val storageMb = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum / 1048576.0
    val extra = w.finish(out)
    val calAfter = calibrate()
    val json = Workloads.json
    if (traced) Files.write(out.resolve("spans.jsonl"),
      trace.allSpans.map(s => json.writeValueAsString(Map("id" -> s.id, "parent" -> s.parent,
        "op" -> s.op, "name" -> s.name, "start" -> s.start, "end" -> s.end)))
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    val result = Map(
      "workload" -> name, "traced" -> traced, "cpus" -> cpus.toInt,
      "session_ready_s" -> sessionReadyS, "setup_landings_s" -> setupS,
      "window_start" -> windowStart, "window_end" -> windowEnd, "passes" -> p,
      "peak_rss_mb" -> peakRssMb, "storage_used_mb" -> storageMb,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "heap_committed_mb" ->
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getCommitted / 1048576.0,
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "calibration_s" -> Seq(calBefore, calAfter), "jvm" -> jvm,
      "counters" -> trace.counterValues, "extra" -> extra,
      "samples" -> samples.toSeq.map(s => Map("pass" -> s.pass, "idx" -> s.idx,
        "kind" -> s.kind, "layer" -> s.layer, "start" -> s.start, "end" -> s.end,
        "wchar" -> s.wchar, "rows" -> s.rows, "in_bytes" -> s.inBytes, "traced" -> s.traced,
        "ok" -> s.ok, "err" -> s.err)))
    Files.write(out.resolve("result.json"), json.writeValueAsBytes(result))
    spark.stop()
  }
}
