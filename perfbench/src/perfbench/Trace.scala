package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One timed call (or a group of calls) of a workload. Times are kept
  * twice: epoch milliseconds, to line up with Spark's event times, and
  * nanoseconds for durations. */
final class Span(val id: Int, val name: String, val parent: Int,
    val isOp: Boolean, val startMs: Long, val startNs: Long) {
  var endMs: Long = Long.MaxValue
  var endNs: Long = -1L
  var error: Option[String] = None
  var gcMs: Long = 0L
  var filesWritten: Long = 0L
  var bytesWritten: Long = 0L
  var storeCommit: Boolean = false
  def durMs: Double = (endNs - startNs) / 1e6
}

/** Raw event records from a SparkListener and a QueryExecutionListener.
  * Recording only: nothing is attributed on the bus thread. Jobs carry the
  * submitting span's id as a local property; every other record reaches a
  * span through its job (stages, tasks, RDD blocks) or, failing that, by
  * time. */
final class Observers extends SparkListener with QueryExecutionListener {
  final class JobRec(val id: Int, val span: Int, val startMs: Long,
      val stageIds: Seq[Int]) { @volatile var endMs: Long = -1L }
  final class TaskAgg {
    var tasks, shuffleWrite, shuffleRead, input, spill = 0L
  }
  final case class QeRec(atMs: Long, analysisMs: Long, optimizationMs: Long,
      planningMs: Long)

  val jobs = new ConcurrentHashMap[Int, JobRec]()
  val stageRdds = new ConcurrentHashMap[Int, Seq[Int]]()
  val stagesDone = new ConcurrentLinkedQueue[Int]()
  val taskAgg = new ConcurrentHashMap[Int, TaskAgg]()
  val blocks = new ConcurrentLinkedQueue[(Int, Long)]()
  val qes = new ConcurrentLinkedQueue[QeRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Observers.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    jobs.put(e.jobId, new JobRec(e.jobId, span, e.time, e.stageIds))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageRdds.put(e.stageInfo.stageId, e.stageInfo.rddInfos.map(_.id))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stagesDone.add(e.stageInfo.stageId)
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = taskAgg.computeIfAbsent(e.stageId, _ => new TaskAgg)
    val m = e.taskMetrics
    a.synchronized {
      a.tasks += 1
      if (m != null) {
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.input += m.inputMetrics.bytesRead
        a.spill += m.diskBytesSpilled
      }
    }
  }
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case RDDBlockId(rddId, _)
          if info.storageLevel.isValid && info.memSize + info.diskSize > 0 =>
        blocks.add((rddId, info.memSize + info.diskSize))
      case _ =>
    }
  }
  private def recordQe(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def d(k: String) = ph.get(k).map(_.durationMs).getOrElse(0L)
      qes.add(QeRec(ph.values.map(_.endTimeMs).max, d("analysis"),
        d("optimization"), d("planning")))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = recordQe(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = recordQe(qe)

  def clear(): Unit = {
    jobs.clear(); stageRdds.clear(); stagesDone.clear(); taskAgg.clear()
    blocks.clear(); qes.clear()
  }
}

object Observers {
  val SpanProp = "perfbench.span"
}

/** Per-span counters after attribution (exclusive: each record counts
  * once, on the innermost span it belongs to). */
final class Counts {
  var jobs, stages, tasks = 0L
  var shuffleWrite, shuffleRead, input, spill = 0L
  var blocks, blockBytes = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** CPU time of the JVM's application threads: the caller, Spark's
  * scheduler and task threads and the stream's thread. The kernel leaves
  * out time the hypervisor ran another guest instead (steal), and the JIT
  * compiler and GC threads are not among the threads `ThreadMXBean` lists. */
object AppCpu {
  private val mx = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]
  mx.setThreadCpuTimeEnabled(true)

  def snapshot(): Map[Long, Long] = {
    val ids = mx.getAllThreadIds
    ids.zip(mx.getThreadCpuTime(ids)).filter(_._2 >= 0).toMap
  }

  /** Nanoseconds used since `before`; a thread that ended in between is
    * not counted. */
  def since(before: Map[Long, Long]): Long =
    snapshot().iterator.map { case (id, t) => t - before.getOrElse(id, 0L) }.sum
}

/** Spans around every public call a workload makes, plus (when traced) the
  * observers, a storage walk around each writing call and GC time at span
  * boundaries. A single caller thread drives the engine, so a stack gives
  * each span its parent. */
final class Tracer(spark: SparkSession, val runId: String, storeRoot: Path) {
  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var traced = false
  private val obs = new Observers
  val quality = mutable.LinkedHashMap.empty[String, Double]
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Intervals (epoch ms) of untimed work inside an iteration: output
    * checks and input preparation. Their jobs and queries count nowhere. */
  private val untimedMs = mutable.ArrayBuffer.empty[(Long, Long)]
  var untimedNs = 0L
  /** CPU time of the application threads while a top-level call ran. */
  var callCpuNs = 0L

  def tracing: Boolean = traced

  def setTracing(on: Boolean): Unit = if (on != traced) {
    if (on) {
      sc.addSparkListener(obs)
      spark.listenerManager.register(obs)
    } else {
      org.apache.spark.PerfbenchBus.drain(sc)
      sc.removeSparkListener(obs)
      spark.listenerManager.unregister(obs)
    }
    traced = on
  }

  private def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans
    .asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  private def open(name: String, isOp: Boolean): Span = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1),
      isOp, System.currentTimeMillis(), System.nanoTime())
    spans += s
    stack = s :: stack
    if (traced) {
      s.gcMs = gcMs()
      sc.setLocalProperty(Observers.SpanProp, s.id.toString)
    }
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    s.endMs = System.currentTimeMillis()
    stack = stack.tail
    if (traced) {
      s.gcMs = gcMs() - s.gcMs
      sc.setLocalProperty(Observers.SpanProp,
        stack.headOption.map(_.id.toString).orNull)
    }
  }

  /** Work that is not part of the workload's timed call sequence. */
  def untimed[T](body: => T): T = {
    val prev = sc.getLocalProperty(Observers.SpanProp)
    if (traced) sc.setLocalProperty(Observers.SpanProp, "-2")
    val t0 = System.nanoTime()
    val m0 = System.currentTimeMillis()
    try body finally {
      untimedNs += System.nanoTime() - t0
      untimedMs += ((m0, System.currentTimeMillis()))
      if (traced) sc.setLocalProperty(Observers.SpanProp, prev)
    }
  }

  /** A grouping span: not an operation of its own. */
  def span[T](name: String)(body: => T): T = {
    val s = open(name, isOp = false)
    try body finally close(s)
  }

  /** One public engine call. A throw marks it failed and propagates. With
    * `writes`, a traced run walks the store root before and after. */
  def call[T](name: String, writes: Boolean = false,
      storeCommit: Boolean = false)(body: => T): T = {
    attempted += 1
    val before = if (traced && writes) Storage.snapshot(storeRoot) else null
    val cpu0 = if (stack.exists(_.isOp)) null else AppCpu.snapshot()
    val s = open(name, isOp = true)
    s.storeCommit = storeCommit
    try body
    catch {
      case t: Throwable =>
        fail(s, s"$name threw ${t.getClass.getSimpleName}: " +
          Option(t.getMessage).getOrElse("").linesIterator.take(3)
            .mkString(" | "))
        throw t
    } finally {
      close(s)
      if (cpu0 != null) callCpuNs += AppCpu.since(cpu0)
      if (before != null) {
        val (n, b) = Storage.written(before, Storage.snapshot(storeRoot))
        s.filesWritten = n
        s.bytesWritten = b
      }
    }
  }

  private def fail(s: Span, msg: String): Unit = if (s.error.isEmpty) {
    s.error = Some(msg)
    failed += 1
    failures += msg
  }

  /** An output check on the latest call named `name`; a failed check marks
    * that call failed. */
  def check(name: String, ok: Boolean, msg: => String): Unit = if (!ok) {
    spans.reverseIterator.find(s => s.name == name && s.isOp) match {
      case Some(s) => fail(s, s"$name check failed: $msg")
      case None =>
        failed += 1
        failures += s"$name check failed: $msg"
    }
  }

  /** Counters of every span, after the listener bus has drained. */
  def attribute(): Map[Int, Counts] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    val out = mutable.HashMap.empty[Int, Counts]
    def at(id: Int) = out.getOrElseUpdate(id, new Counts)
    def byTime(t: Long): Int =
      if (untimedMs.exists { case (a, b) => a <= t && t <= b }) -2
      else spans.iterator
        .filter(s => s.startMs <= t && t <= s.endMs)
        .maxByOption(_.startNs).map(_.id).getOrElse(-1)
    val jobSpan = mutable.HashMap.empty[Int, Int]
    val stageSpan = mutable.HashMap.empty[Int, Int]
    obs.jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val sid = if (j.span >= 0) j.span else byTime(j.startMs)
      jobSpan(j.id) = sid
      j.stageIds.foreach(st => if (!stageSpan.contains(st)) stageSpan(st) = sid)
      val c = at(sid)
      c.jobs += 1
      c.jobIntervals += ((j.startMs, if (j.endMs < 0) j.startMs else j.endMs))
    }
    obs.stagesDone.asScala.foreach(st => at(stageSpan.getOrElse(st, -1)).stages += 1)
    obs.taskAgg.asScala.foreach { case (st, a) =>
      val c = at(stageSpan.getOrElse(st, -1))
      c.tasks += a.tasks; c.shuffleWrite += a.shuffleWrite
      c.shuffleRead += a.shuffleRead; c.input += a.input; c.spill += a.spill
    }
    val rddSpan = mutable.HashMap.empty[Int, Int]
    obs.stageRdds.asScala.toSeq.sortBy(_._1).foreach { case (st, rdds) =>
      rdds.foreach(r => if (!rddSpan.contains(r))
        rddSpan(r) = stageSpan.getOrElse(st, -1))
    }
    obs.blocks.asScala.foreach { case (rdd, bytes) =>
      val c = at(rddSpan.getOrElse(rdd, -1))
      c.blocks += 1; c.blockBytes += bytes
    }
    obs.qes.asScala.foreach { q =>
      val c = at(byTime(q.atMs))
      c.analysisMs += q.analysisMs; c.optimizationMs += q.optimizationMs
      c.planningMs += q.planningMs
    }
    out.toMap
  }

  /** Forget spans and records (between iterations). */
  def reset(): Unit = {
    if (traced) org.apache.spark.PerfbenchBus.drain(sc)
    spans.clear(); stack = Nil; obs.clear(); quality.clear()
    untimedMs.clear(); untimedNs = 0L; callCpuNs = 0L
  }

  /** Spans as JSON lines: id, name, parent, run id, start/end (epoch ms),
    * duration and self time (duration minus the union of child spans),
    * plus the span's own counters. */
  def spanLines(counts: Map[Int, Counts]): Seq[String] = {
    val kids = spans.groupBy(_.parent)
    spans.toSeq.map { s =>
      val childNs = Layers.unionLen(kids.getOrElse(s.id, Nil).toSeq
        .map(k => (k.startNs, k.endNs)))
      val c = counts.getOrElse(s.id, new Counts)
      Json.obj(Seq(
        "run_id" -> Json.str(runId), "span" -> s.id.toString,
        "parent" -> s.parent.toString, "name" -> Json.str(s.name),
        "start_ms" -> s.startMs.toString, "end_ms" -> s.endMs.toString,
        "dur_ms" -> Json.num(s.durMs),
        "self_ms" -> Json.num((s.endNs - s.startNs - childNs) / 1e6),
        "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
        "tasks" -> c.tasks.toString,
        "files_written" -> s.filesWritten.toString,
        "bytes_written" -> s.bytesWritten.toString,
        "error" -> s.error.map(Json.str).getOrElse("null")))
    }
  }
}

/** File walk of a store root: path → (size, mtime). A file counts as
  * written by a call when it is new or its size or mtime changed. */
object Storage {
  def snapshot(root: Path): Map[String, (Long, Long)] =
    if (!Files.exists(root)) Map.empty
    else {
      val st = Files.walk(root)
      try st.iterator().asScala.filter(p => Files.isRegularFile(p))
        .map { p =>
          p.toString -> (Files.size(p), Files.getLastModifiedTime(p).toMillis)
        }.toMap
      finally st.close()
    }

  def written(before: Map[String, (Long, Long)],
      after: Map[String, (Long, Long)]): (Long, Long) = {
    val w = after.filter { case (p, v) => !before.get(p).contains(v) }
    (w.size.toLong, w.values.map(_._1).sum)
  }

  def bytes(root: Path): Long = snapshot(root).values.map(_._1).sum
}

/** Per-layer metrics of one traced iteration, from its spans and their
  * attributed counters. */
object Layers {
  /** Per-layer metrics every traced run reports, with their units,
    * whichever workload it runs (the `per_layer` list of BENCHMARK.json);
    * a layer the workload does not reach reads 0. */
  private val shared: Seq[(String, String)] = Seq(
    "catalyst.analysis_ms" -> "ms", "catalyst.optimization_ms" -> "ms",
    "catalyst.planning_ms" -> "ms", "driver.gap_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "config.parse_ms" -> "ms",
    "graph_builder.build_ms" -> "ms", "spark.shuffle_write_mb" -> "MB",
    "spark.shuffle_read_mb" -> "MB", "spark.input_mb" -> "MB",
    "graph_builder.write_staging_ms" -> "ms",
    "graph_builder.export_csv_ms" -> "ms", "graph_builder.stats_ms" -> "ms",
    "graph_builder.upsert_ms" -> "ms", "storage.files_written" -> "count",
    "storage.mb_written" -> "MB", "graph_ops.pagerank_inc_ms" -> "ms",
    "checkpointer.blocks" -> "count", "checkpointer.blocks_mb" -> "MB",
    "dedup.incremental_ms" -> "ms", "jvm.gc_ms" -> "ms",
    "spark.spill_mb" -> "MB", "similarity.serve_ms" -> "ms",
    "similarity.recall_at_10" -> "ratio", "streaming.trigger_ms" -> "ms",
    "stores.commit_ms" -> "ms", "stores.files_written" -> "count",
    "trace.overhead_ms" -> "ms", "iteration.wall_ms" -> "ms")

  /** Further per-layer metrics of the workloads BENCHMARK.json does not
    * list, reported only by the workload that produces them. */
  private val extras: Map[String, Seq[(String, String)]] = Map(
    "analyze" -> Seq("graph_ops.cc_ms" -> "ms", "graph_ops.cc_jobs" -> "count",
      "graph_ops.louvain_ms" -> "ms", "graph_ops.louvain_jobs" -> "count"),
    "scc" -> Seq("graph_ops.scc_ms" -> "ms", "graph_ops.scc_jobs" -> "count"),
    "curate" -> Seq("dedup.corpus_ms" -> "ms", "dedup.near_dups_ms" -> "ms",
      "dedup.lsh_precision" -> "ratio", "similarity.build_ms" -> "ms",
      "similarity.save_index_files" -> "count"))

  /** The per-layer metrics a traced run of `workload` reports, with units. */
  def reported(workload: String): Seq[(String, String)] =
    shared ++ extras.getOrElse(workload, Nil)

  private val names = (shared ++ extras.values.flatten).map(_._1)

  /** Spans whose summed duration is reported as `<name>_ms`. */
  private val timed = Seq("config.parse", "graph_builder.build",
    "graph_builder.write_staging", "graph_builder.export_csv",
    "graph_builder.stats", "graph_builder.upsert", "graph_ops.cc",
    "graph_ops.louvain", "graph_ops.scc", "graph_ops.pagerank_inc",
    "dedup.corpus", "dedup.near_dups", "dedup.incremental",
    "similarity.build", "similarity.serve", "streaming.trigger",
    "stores.commit")

  def unionLen(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  def of(tr: Tracer, counts: Map[Int, Counts]): Map[String, Double] = {
    val spans = tr.spans.toSeq
    val kids = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] =
      s +: kids.getOrElse(s.id, Nil).flatMap(subtree)
    val all = spans.flatMap(s => counts.get(s.id))
    def sum(f: Counts => Long, from: Seq[Counts] = all): Double =
      from.map(f).sum.toDouble
    def subCounts(name: String) = spans.filter(_.name == name)
      .flatMap(subtree).flatMap(s => counts.get(s.id))
    val m = mutable.LinkedHashMap.empty[String, Double]
    m("catalyst.analysis_ms") = sum(_.analysisMs)
    m("catalyst.optimization_ms") = sum(_.optimizationMs)
    m("catalyst.planning_ms") = sum(_.planningMs)
    // wall of each top-level call outside the union of its jobs' intervals
    val calls = spans.filter(s => s.isOp &&
      !spans.exists(p => p.id == s.parent && p.isOp))
    m("driver.gap_ms") = calls.map { s =>
      val iv = subtree(s).flatMap(x => counts.get(x.id))
        .flatMap(_.jobIntervals)
        .map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
      math.max(0.0, s.durMs - unionLen(iv))
    }.sum
    m("spark.jobs") = sum(_.jobs)
    m("spark.stages") = sum(_.stages)
    m("spark.tasks") = sum(_.tasks)
    m("spark.shuffle_write_mb") = sum(_.shuffleWrite) / 1e6
    m("spark.shuffle_read_mb") = sum(_.shuffleRead) / 1e6
    m("spark.input_mb") = sum(_.input) / 1e6
    m("spark.spill_mb") = sum(_.spill) / 1e6
    m("checkpointer.blocks") = sum(_.blocks)
    m("checkpointer.blocks_mb") = sum(_.blockBytes) / 1e6
    timed.foreach { n =>
      m(s"${n}_ms") = spans.filter(_.name == n).map(_.durMs).sum
    }
    Seq("cc", "louvain", "scc").foreach { n =>
      m(s"graph_ops.${n}_jobs") = sum(_.jobs, subCounts(s"graph_ops.$n"))
    }
    val writers = spans.filter(_.isOp)
    m("storage.files_written") = writers.map(_.filesWritten).sum.toDouble
    m("storage.mb_written") = writers.map(_.bytesWritten).sum / 1e6
    m("stores.files_written") =
      writers.filter(_.storeCommit).map(_.filesWritten).sum.toDouble
    m("similarity.save_index_files") = spans
      .filter(_.name == "similarity.save_index").map(_.filesWritten).sum.toDouble
    m("jvm.gc_ms") = spans.filter(_.parent == -1).map(_.gcMs).sum.toDouble
    names.foreach(k => if (!m.contains(k)) m(k) = 0.0)
    tr.quality.foreach { case (k, v) => m(k) = v }
    m.toMap
  }
}

/** Just enough JSON writing for the result line and the span file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
