package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Path, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

/** Benchmark driver for one workload in one process: a single caller
  * thread runs the workload's call sequence in a closed loop for the given
  * number of seconds and prints every metric by name and unit, the output
  * checks' verdict and, last, one JSON result line.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --root DIR [--cores N] [--t0 EPOCH_MS] [--trace-dir DIR]
  */
object Main {
  /** Setup runs this many times; `setup_s` reports the median. */
  val SetupRepeats = 2

  final case class Opts(workload: String = "", seed: Long = 1L,
      seconds: Int = 10, trace: Boolean = false, root: String = "",
      cores: Int = 4, t0: Long = 0L, traceDir: String = "")

  private def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case Nil => o
    case "--workload" :: v :: rest => parse(rest, o.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, o.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, o.copy(seconds = v.toInt))
    case "--trace" :: v :: rest => parse(rest, o.copy(trace = v == "1"))
    case "--root" :: v :: rest => parse(rest, o.copy(root = v))
    case "--cores" :: v :: rest => parse(rest, o.copy(cores = v.toInt))
    case "--t0" :: v :: rest => parse(rest, o.copy(t0 = v.toLong))
    case "--trace-dir" :: v :: rest => parse(rest, o.copy(traceDir = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Peak memory the engine holds during the timed iterations: the largest
    * heap in use right after a garbage collection (what survived it), plus
    * the peak of the non-heap pools (metaspace, which holds the classes
    * Spark's code generation compiles, and the code cache). Heap in use
    * between collections is left out: it follows the young generation's
    * size, which the JVM's heap flags set, not the engine. */
  private final class MemoryPeak extends NotificationListener {
    private val pools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    private val heapPools =
      pools.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case e: NotificationEmitter => e }
    private var heapAfterGc = 0L
    private var heapAtStart = 0L
    private var nonHeap = 0L
    private var collections = 0

    def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized { heapAfterGc = math.max(heapAfterGc, used); collections += 1 }
      }

    /** Collect the setup's garbage, then watch every later collection. */
    def start(): Unit = {
      System.gc()
      heapAtStart = pools.filter(p => heapPools(p.getName)).map(_.getUsage.getUsed).sum
      heapAfterGc = heapAtStart
      pools.foreach(_.resetPeakUsage())
      gcs.foreach(_.addNotificationListener(this, null, null))
    }

    /** Collect the last iteration's garbage, so that what survives a
      * collection in the next one is what that iteration holds. */
    def collect(): Unit = System.gc()

    def stopMb(): Double = {
      gcs.foreach(_.removeNotificationListener(this))
      nonHeap = pools.filter(_.getType == MemoryType.NON_HEAP)
        .map(_.getPeakUsage.getUsed).sum
      val heap = synchronized { heapAfterGc }
      (heap + nonHeap) / 1e6
    }

    override def toString: String = synchronized {
      f"heap ${heapAtStart / 1e6}%.1f MB at start, ${heapAfterGc / 1e6}%.1f MB peak " +
        f"after $collections collections; non-heap peak ${nonHeap / 1e6}%.1f MB"
    }
  }

  def main(argv: Array[String]): Unit = {
    val o = parse(argv.toList)
    require(Workload.names.contains(o.workload),
      s"--workload must be one of ${Workload.names.mkString(", ")}")
    val root = Paths.get(o.root).toAbsolutePath
    val t0 = if (o.t0 > 0) o.t0
      else java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = SparkSession.builder()
      .master(s"local[${o.cores}]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", o.cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", root.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", root.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - t0) / 1000.0
    val runId = s"${o.workload}-${o.seed}-${System.currentTimeMillis()}"
    val exit = try run(spark, o, root, runId, sessionS) finally spark.stop()
    sys.exit(exit)
  }

  private def run(spark: SparkSession, o: Opts, root: Path, runId: String,
      sessionS: Double): Int = {
    // Inputs and stores are set up SetupRepeats times into fresh
    // directories (the last one stays); the warm-up pass runs once, since
    // only the first pass in a process pays for class loading and JIT.
    var wl: Workload = null
    var tr: Tracer = null
    val setups = (0 until SetupRepeats).map { i =>
      val dir = root.resolve(s"setup$i")
      val t = System.nanoTime()
      val w = Workload(o.workload, spark, o.seed, dir)
      val trc = new Tracer(spark, runId, dir)
      w.setup(trc)
      val s = (System.nanoTime() - t) / 1e9
      if (wl != null) Workload.deleteTree(wl.dir)
      wl = w; tr = trc
      s
    }
    val warmT = System.nanoTime()
    try wl.warmUp(tr) catch { case NonFatal(_) => }
    val warmS = (System.nanoTime() - warmT) / 1e9
    System.err.println(f"perfbench: session ${sessionS}%.2fs, setups " +
      setups.map(x => f"$x%.2f").mkString("/") + f"s, warm-up $warmS%.2fs")
    tr.attempted = 0; tr.failed = 0; tr.failures.clear()

    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val tracedWalls = mutable.ArrayBuffer.empty[Double]
    val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spanLines = mutable.ArrayBuffer.empty[String]
    val mem = new MemoryPeak
    mem.start()
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    var i = 0
    // A traced run alternates untraced and traced iterations, starting and
    // ending untraced, so the tracing overhead compares iterations under the
    // same conditions (the JIT still speeds up early iterations).
    // At least two timed iterations: the first after the warm-up is still
    // slower, and a lone first iteration would make the median swing.
    def done = System.nanoTime() >= deadline &&
      (if (o.trace) i >= 3 && i % 2 == 1 else i >= 2)
    while (!done && i < 1000) {
      val traced = o.trace && i % 2 == 1
      tr.setTracing(traced)
      wl.prepare()
      mem.collect()
      tr.reset()
      val t = System.nanoTime()
      try tr.span("iteration") { wl.iteration(tr) }
      catch { case NonFatal(_) => } // recorded as a failed op by the tracer
      val wall = (System.nanoTime() - t - tr.untimedNs) / 1e9
      val cpu = tr.callCpuNs / 1e9
      wl.finish()
      if (traced) {
        tracedWalls += wall
        val counts = tr.attribute()
        layers += Layers.of(tr, counts)
        spanLines ++= tr.spanLines(counts)
      } else { walls += wall; cpus += cpu }
      System.err.println(f"perfbench: iteration $i ${if (traced) "traced" else "untraced"} " +
        f"wall $wall%.3fs, cpu $cpu%.3fs")
      i += 1
    }
    tr.setTracing(false)
    val memMb = mem.stopMb()
    System.err.println(s"perfbench: memory: $mem")

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) Seq(
        ("cpu_s", median(cpus.toSeq), "s"),
        ("setup_s", sessionS + median(setups) + warmS, "s"),
        ("mem_peak_mb", memMb, "MB")) ++
        wl.outputBytes.map(b => ("store_mb", b / 1e6, "MB"))
      else Layers.reported(o.workload).map { case (name, unit) =>
        val v =
          if (name == "trace.overhead_ms")
            (median(tracedWalls.toSeq) - median(walls.toSeq)) * 1000
          else if (name == "iteration.wall_ms") median(walls.toSeq) * 1000
          else median(layers.map(_(name)).toSeq)
        (name, v, unit)
      }
    if (o.trace && o.traceDir.nonEmpty) {
      val f = Paths.get(o.traceDir).resolve(s"$runId.jsonl")
      Files.createDirectories(f.getParent)
      Files.writeString(f, spanLines.mkString("", "\n", "\n"))
      println(s"spans: $f")
    }
    println(s"workload ${o.workload} seed ${o.seed}: ${walls.size + tracedWalls.size} " +
      s"iterations (${tracedWalls.size} traced), ${tr.attempted} ops, ${tr.failed} failed")
    metrics.foreach { case (n, v, u) => println(f"  $n%-32s ${Json.num(v)}%s $u") }
    if (!o.trace) println(f"  (wall time, not bounded)        ${median(walls.toSeq)}%.3f s")
    tr.quality.foreach { case (n, v) => println(f"  check value $n%-26s ${Json.num(v)}") }
    tr.failures.distinct.foreach(f => println(s"  FAILED: $f"))
    println(s"checks: ${if (tr.failed == 0) "PASS" else "FAIL"}")
    println(Json.obj(Seq(
      "correct" -> (tr.failed == 0).toString,
      "attempted" -> tr.attempted.toString,
      "failed" -> tr.failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }))))
    0
  }
}
