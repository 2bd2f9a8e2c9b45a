package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import graft.Sessions
import graft.operators.{LayoutOps, LimeOps, LlmData, ScaleOps}

/** One timed operation. `error` is the exception class or the failed
  * check; `startMs`/`endMs` are wall-clock bounds for the listener's job
  * intervals.
  */
case class OpRecord(i: Int, name: String, latency: Double, units: Long,
                    error: Option[String], detail: Option[String], startMs: Long, endMs: Long)

/** Benchmark process: sets up one workload, runs its closed loop and
  * writes the raw measurements as JSON for `perfbench/run.py`.
  *
  * Arguments: --workload W --seed N --seconds S --trace 0|1 --cores C
  * --work DIR --out FILE
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val seed = a("seed").toLong
    val measureS = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = a("work")
    val spark = Sessions.local(a("cores"))
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val listener = new ExecListener
    sc.addSparkListener(listener)
    val trace = new Trace(sc)
    val wl = Workloads(a("workload"), spark, s"$work/data", work, seed, trace)

    def reset(): Unit = {
      spark.catalog.clearCache()
      ScaleOps.unpersistRetained()
      LimeOps.clearStatsCache()
      LlmData.clearDedupArtifacts()
      LayoutOps.clearLayoutArtifacts()
    }

    // Set-up: the inputs (generation and fitting) are made three times and
    // their median time is taken; then one warm-up pass runs every
    // distinct operation once. setup_s is the sum of the two.
    val inputS = mutable.ArrayBuffer.empty[Double]
    val inputDigests = mutable.ArrayBuffer.empty[String]
    for (_ <- 0 until 3) {
      reset()
      inputS += seconds(wl.inputs())
      inputDigests += dirDigest(Paths.get(s"$work/data"))
    }
    // the warm-up ends with a full collection, so the loop starts on a
    // clean heap
    val warmupS = seconds { wl.warmup(); System.gc() }
    wl.sealRefs()

    def runOp(i: Int, traced: Boolean): OpRecord = {
      spark.catalog.clearCache()
      ScaleOps.unpersistRetained()
      wl.prepare(i)
      trace.enabled = traced
      trace.op = i
      val startMs = System.currentTimeMillis()
      val start = System.nanoTime()
      val res = try Right(wl.run(i)) catch { case NonFatal(e) => Left(e) }
      val latency = (System.nanoTime() - start) / 1e9
      val endMs = System.currentTimeMillis()
      trace.enabled = false
      val (error, detail) = res match {
        case Left(e) => (Some(e.getClass.getName), Option(e.getMessage).map(_.take(300)))
        case Right(out) =>
          try wl.check(i, out).map(m => ("WrongOutput", m)).unzip
          catch { case NonFatal(e) => (Some(e.getClass.getName), Option(e.getMessage)) }
      }
      val units = res.toOption.filter(_ => error.isEmpty).map(_.units).getOrElse(0L)
      if (traced) wl.probe(i)
      OpRecord(i, wl.opName(i), latency, units, error, detail, startMs, endMs)
    }

    // The closed loop: operations back to back for the measured seconds,
    // in whole cycles. A traced run alternates untraced and traced
    // operations (in whole pairs), so trace.overhead compares operations
    // of the same kind at the same point of the run.
    val heap = new HeapWatch
    val os = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    listener.drain(sc)
    listener.reset()
    val ops = mutable.ArrayBuffer.empty[OpRecord]
    val tracedOps = mutable.ArrayBuffer.empty[OpRecord]
    val cpu0 = os.getProcessCpuTime
    heap.reset()
    val t0 = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - t0) / 1e9 < measureS || i % wl.cycle != 0 ||
        (traced && i % 2 != 0)) {
      if (traced && i % 2 == 1) tracedOps += runOp(i, traced = true)
      else ops += runOp(i, traced = false)
      i += 1
    }
    val cpuS = (os.getProcessCpuTime - cpu0) / 1e9
    val peakHeapMb = heap.peakMb()

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> a("workload"), "seed" -> seed, "cores" -> sc.defaultParallelism,
      "unit" -> wl.unit, "input_s" -> inputS.toSeq, "warmup_s" -> warmupS,
      "input_digests" -> inputDigests.toSeq, "input_sizes" -> wl.inputSizes,
      "ops" -> ops.map(opJson), "cpu_s" -> cpuS, "peak_heap_mb" -> peakHeapMb,
      "refs" -> wl.refs.values.map(r => Map("name" -> r.name, "path" -> r.path,
        "oracle" -> r.oracle.map(graft.SparkEntry.oracleSql).orNull)).toSeq)

    if (traced) {
      listener.drain(sc)
      out("traced_ops") = tracedOps.map(opJson)
      out("spans") = trace.spans.map { sp =>
        val m = listener.bySpan.getOrElse(sp.id, new ExecTotals)
        Map("id" -> sp.id, "name" -> sp.name, "parent" -> sp.parent, "op" -> sp.op,
          "start_s" -> sp.start / 1e9, "end_s" -> sp.end / 1e9) ++ totalsJson(m)
      }.toSeq
      out("layer") = wl.layer
      out("exec") = execJson(listener, tracedOps.toSeq, trace)
    }
    out("finish_errors") = wl.finish()
    Files.writeString(Paths.get(a("out")), Json(out))
    spark.stop()
  }

  private def seconds(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  private def opJson(r: OpRecord): Map[String, Any] = Map("i" -> r.i, "name" -> r.name,
    "latency_s" -> r.latency, "units" -> r.units, "error" -> r.error.orNull,
    "detail" -> r.detail.orNull)

  private def totalsJson(m: ExecTotals): Map[String, Any] = Map("jobs" -> m.jobs,
    "stages" -> m.stages, "tasks" -> m.tasks, "executor_run_s" -> m.runNs / 1e9,
    "gc_s" -> m.gcMs / 1e3, "shuffle_write_bytes" -> m.shuffleWrite,
    "shuffle_read_bytes" -> m.shuffleRead, "spill_bytes" -> m.spill,
    "peak_exec_mem_bytes" -> m.peakExecMem)

  /** Execution totals of the traced operations (jobs the probes submit
    * outside any span are left out) and the wall time each operation
    * spent with no job running.
    */
  private def execJson(l: ExecListener, ops: Seq[OpRecord], trace: Trace): Map[String, Any] = {
    val inOps = l.bySpan.filter(_._1 >= 0).values
    val sum = new ExecTotals
    inOps.foreach { t =>
      sum.jobs += t.jobs; sum.stages += t.stages; sum.tasks += t.tasks; sum.runNs += t.runNs
      sum.gcMs += t.gcMs; sum.shuffleWrite += t.shuffleWrite; sum.shuffleRead += t.shuffleRead
      sum.spill += t.spill; sum.peakExecMem = math.max(sum.peakExecMem, t.peakExecMem)
    }
    val jobs = l.jobIntervals.toSeq.sortBy(_._1)
    val idleMs = ops.map { op =>
      var covered = 0L; var cursor = op.startMs
      jobs.foreach { case (s0, e0) =>
        val s = math.max(s0, cursor); val e = math.min(e0, op.endMs)
        if (e > s) { covered += e - s; cursor = e }
      }
      (op.endMs - op.startMs) - covered
    }.sum
    val scaleSpans = trace.spans.filter(_.name.startsWith("scale.")).map(_.id).toSet
    val scaleJobs = l.bySpan.filter(kv => scaleSpans(kv._1)).values.map(_.jobs).sum
    totalsJson(sum) ++ Map("ops" -> ops.size, "wall_s" -> ops.map(_.latency).sum,
      "driver_idle_s" -> idleMs / 1e3, "scale_ops" -> scaleSpans.size, "scale_jobs" -> scaleJobs)
  }

  /** SHA-256 over every table under `root`: each table directory's name,
    * then the bytes of its data files up to the parquet footer. Part-file
    * names carry a random write id, so only their order counts; Hadoop's
    * checksum and marker files are skipped. The footer is left out because
    * parquet-mr writes each column's set of encodings in hash order, which
    * changes from one JVM to the next.
    */
  def dirDigest(root: Path): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    Files.walk(root).iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(p => p.getFileName.toString.startsWith(".") || p.getFileName.toString.startsWith("_"))
      .toSeq.sortBy(_.toString).foreach { p =>
        md.update(root.relativize(p.getParent).toString.getBytes("UTF-8"))
        val bytes = Files.readAllBytes(p)
        // a parquet file ends with the footer, its 4-byte little-endian
        // length and the magic "PAR1"
        val footer = java.nio.ByteBuffer.wrap(bytes, bytes.length - 8, 4)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
        md.update(bytes, 0, bytes.length - 8 - footer)
      }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** Peak live heap: the largest heap occupancy right after a full
  * collection, from any the JVM runs during the measured loop and those
  * forced at its end. Young collections are left out: what they leave
  * includes old-generation garbage not yet collected, which varies from
  * run to run with the collection timing.
  */
final class HeapWatch {
  import javax.management.{Notification, NotificationEmitter, NotificationListener}
  import javax.management.openmbean.CompositeData
  import com.sun.management.GarbageCollectionNotificationInfo
  @volatile private var peak = 0L
  // each collector's count before the forced final collections, whose
  // notifications are skipped: they are read directly instead
  @volatile private var forcedAfter = Map.empty[String, Long]
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet

  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
    case em: NotificationEmitter => em.addNotificationListener(new NotificationListener {
      def handleNotification(n: Notification, hb: AnyRef): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction == "end of major GC" &&
              forcedAfter.get(info.getGcName).forall(info.getGcInfo.getId <= _))
            record(info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, v) if heapPools(k) => v.getUsed }.sum)
        }
    }, null, null)
    case _ =>
  }

  private def record(used: Long): Unit = synchronized { peak = math.max(peak, used) }

  def reset(): Unit = synchronized { peak = 0L }

  /** The final reading repeats the full collection until the heap stops
    * shrinking: Spark's ContextCleaner frees unreachable broadcast and
    * cached blocks only after a collection has found them, on its own
    * thread, so one collection leaves whatever it had not yet freed.
    * Only the last reading counts.
    */
  def peakMb(): Double = {
    def collect(): Long = {
      System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    }
    forcedAfter = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => b.getName -> b.getCollectionCount).toMap
    var last = Long.MaxValue
    var now = collect()
    var rounds = 0
    while (now < last - (1L << 20) && rounds < 10) {
      Thread.sleep(200)
      last = now; now = collect(); rounds += 1
    }
    record(now)
    val bytes: Long = synchronized(peak)
    bytes / (1024.0 * 1024.0)
  }
}

/** Minimal JSON writer for the raw measurement file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
        case '\t' => "\\t"; case c if c < ' ' => "\\u%04x".format(c.toInt); case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => apply(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => apply(other.toString)
  }
}
