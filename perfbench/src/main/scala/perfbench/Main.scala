package perfbench

import java.io.FileInputStream
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.Properties
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One benchmark run in a fresh JVM: set up several times, run two
  * warm-up passes (the first checked), then closed-loop passes (one client, the next
  * op starts when the previous returns) until the time budget is spent.
  * Writes everything it measured to one JSON file; `run.py` turns that
  * into metrics.
  *
  * Usage: `perfbench.Main <config.properties>` (written by `run.py`).
  */
object Main {
  /** Outputs up to this many rows are written into the result for checks. */
  private val RowsInResult = 500
  private final case class OpRun(op: String, seconds: Double, ok: Boolean, error: String)
  private final case class Pass(traced: Boolean, ops: Seq[OpRun], cpuS: Double,
      heapPeakMb: Double, scratchNew: Int, bytesWritten: Long)

  def main(args: Array[String]): Unit = {
    val cfg = new Properties()
    val in = new FileInputStream(args(0))
    try cfg.load(in) finally in.close()
    val work = Paths.get(cfg.getProperty("work"))
    val data = cfg.getProperty("data")
    val cores = cfg.getProperty("cores").toInt
    val budgetNs = (cfg.getProperty("seconds").toDouble * 1e9).toLong
    val traceMode = cfg.getProperty("trace") == "1"
    val runId = cfg.getProperty("run_id")
    val workload: Workload = cfg.getProperty("workload") match {
      case "airline_batch" =>
        new AirlineBatch(cfg.getProperty("rows_file"), work.resolve("airline"))
      case _ =>
        new QueryMix(data, cfg.getProperty("ops").split(",").toSeq.map { s =>
          val Array(n, l) = s.split(":"); (n, l)
        })
    }
    // per-pass op orders fixed by the seed; none given = the listed order
    val orders: IndexedSeq[IndexedSeq[Int]] = cfg.getProperty("orders") match {
      case "" => IndexedSeq(workload.ops.indices)
      case s => s.split(";").toIndexedSeq.map(_.split(",").toIndexedSeq.map(_.toInt))
    }

    // -- set-up, several times; the last session is the one measured --
    var spark: SparkSession = null
    val setups = (1 to cfg.getProperty("setups").toInt).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = graft.core.Session.builder(s"local[$cores]", cores)
        .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
        .config("spark.local.dir", work.resolve("local").toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      val t1 = System.nanoTime()
      workload.materialize(spark)
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e9, (t2 - t0) / 1e9)
    }
    val sc = spark.sparkContext
    val listener = new SpanListener
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heap = new LiveHeap
    val tmpDir = Paths.get(System.getProperty("java.io.tmpdir"))
    def scratchDirs(): Int = Files.list(tmpDir).iterator().asScala
      .count(_.getFileName.toString.startsWith("graft_"))

    // -- warm-up pass: every op once; its output digest is the reference
    // later passes must reproduce, and small outputs go to the checker --
    val dump = cfg.getProperty("dump") == "1"
    val reference = new java.util.concurrent.ConcurrentHashMap[String, String]()
    def warm(op: Op): String = try {
      val out = op.run(spark)
      reference.put(op.name, Digest.of(out.rows))
      if (dump) spark.createDataFrame(out.rows.asJava, out.schema).coalesce(1)
        .write.mode("overwrite").parquet(work.resolve("out").resolve(op.name).toString)
      Json.obj(Seq("digest" -> Json.str(reference.get(op.name)),
        "detail" -> Json.obj(out.detail.toSeq.sorted.map { case (k, v) => k -> Json.str(v) }),
        "columns" -> Json.arr(out.schema.fieldNames.toSeq.map(Json.str)),
        "rows" -> (if (out.rows.size > RowsInResult) "null"
          else Json.arr(out.rows.map(r => Json.arr(r.toSeq.map(Json.value)))))))
    } catch { case e: Throwable =>
      Json.obj(Seq("error" -> Json.str(String.valueOf(e).take(400))))
    }
    val warmStart = System.nanoTime()
    // Independent ops warm up concurrently: a lone op leaves most cores
    // idle, and the warm-up is not measured.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(workload.warmThreads)
    val pending = workload.ops.map(op => pool.submit(() => warm(op)))
    val check = workload.ops.map(_.name).zip(pending.map(_.get()))
    // A second pass, unchecked: after one pass the JIT is still compiling,
    // and the next pass reads 10-20% slower than the one after it.
    workload.ops.map(op => pool.submit(() => try op.run(spark) catch {
      case _: Throwable => () })).foreach(_.get())
    pool.shutdown()
    val warmS = (System.nanoTime() - warmStart) / 1e9

    // -- measured passes --
    // Trace mode alternates traced and untraced passes (T U T U T ...):
    // each untraced pass sits between two traced ones, so warm-up drift
    // cancels in the overhead, and every run has two traced passes whose
    // counts must agree.
    val spans = mutable.ArrayBuffer.empty[Span]
    val passes = mutable.ArrayBuffer.empty[Pass]
    val minPasses = if (traceMode) 3 else 2
    val loopStart = System.nanoTime()
    var p = 0
    while (p < minPasses || System.nanoTime() - loopStart < budgetNs) {
      val traced = traceMode && p % 2 == 0
      if (traced) sc.addSparkListener(listener)
      val order = orders(p % orders.size)
      val passId = s"p$p"
      val scratch0 = scratchDirs()
      heap.reset()
      var cpuNs = 0L
      var bytes = 0L
      val passStartNs = System.nanoTime()
      val passStartMs = System.currentTimeMillis()
      val runs = order.map(workload.ops).zipWithIndex.map { case (op, k) =>
        val spanId = s"$passId.$k"
        val persisted0 = sc.getPersistentRDDs.size
        if (traced) sc.setJobGroup(spanId, op.name, interruptOnCancel = false)
        val startMs = System.currentTimeMillis()
        val cpu0 = osBean.getProcessCpuTime
        val t0 = System.nanoTime()
        val result = try Right(op.run(spark)) catch { case e: Throwable => Left(e) }
        val t1 = System.nanoTime()
        cpuNs += osBean.getProcessCpuTime - cpu0
        if (traced) {
          sc.clearJobGroup()
          listener.drain(sc)
          spans += Span(spanId, s"${op.layer}/${op.name}", op.layer, passId, runId,
            t0, t1, startMs, listener.take(spanId), sc.getPersistentRDDs.size - persisted0)
        }
        result match {
          case Right(out) =>
            bytes += out.bytesWritten
            val ok = Digest.of(out.rows) == reference.get(op.name)
            OpRun(op.name, (t1 - t0) / 1e9, ok, if (ok) "" else "output differs from the checked warm-up output")
          case Left(e) => OpRun(op.name, (t1 - t0) / 1e9, ok = false, String.valueOf(e).take(400))
        }
      }
      val heapPeak = heap.peakMb()
      if (traced) {
        spans += Span(passId, "pass", "pass", "", runId, passStartNs,
          System.nanoTime(), passStartMs, new SpanCounters, 0)
        sc.removeSparkListener(listener)
      }
      passes += Pass(traced, runs, cpuNs / 1e9, heapPeak, scratchDirs() - scratch0, bytes)
      p += 1
    }

    val result = Json.obj(Seq(
      "spark_version" -> Json.str(spark.version),
      "heap_max_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "setups" -> Json.arr(setups.map { case (sess, all) =>
        Json.obj(Seq("session_s" -> Json.num(sess), "setup_s" -> Json.num(all))) }),
      "warm_s" -> Json.num(warmS),
      "layers" -> Json.obj(workload.ops.map(o => o.name -> Json.str(o.layer))),
      "check" -> Json.obj(check),
      "oracle" -> Json.obj(workload.ops.flatMap(o =>
        graft.SparkEntry.oracleSql.get(o.name).map(q => o.name -> Json.str(q)))),
      "passes" -> Json.arr(passes.toSeq.map { ps => Json.obj(Seq(
        "traced" -> ps.traced.toString,
        "cpu_s" -> Json.num(ps.cpuS),
        "heap_peak_mb" -> Json.num(ps.heapPeakMb),
        "scratch_new" -> ps.scratchNew.toString,
        "bytes_written" -> ps.bytesWritten.toString,
        "ops" -> Json.arr(ps.ops.map { r => Json.obj(Seq(
          "op" -> Json.str(r.op), "s" -> Json.num(r.seconds),
          "ok" -> r.ok.toString, "error" -> Json.str(r.error))) }))) }),
      "spans" -> Json.arr(spans.toSeq.map(spanJson)),
      "unattributed_jobs" -> listener.unattributedJobs.toString,
      "scratch_left" -> scratchDirs().toString))
    spark.stop()
    Files.writeString(Paths.get(cfg.getProperty("out")), result)
  }

  private def spanJson(s: Span): String = {
    val c = s.counters
    Json.obj(Seq(
      "id" -> Json.str(s.id), "name" -> Json.str(s.name), "layer" -> Json.str(s.layer),
      "parent" -> Json.str(s.parent), "run" -> Json.str(s.run),
      "start_ms" -> s.startMs.toString,
      "dur_s" -> Json.num((s.endNs - s.startNs) / 1e9),
      "jobs" -> c.jobs.toString, "stages" -> c.stages.toString,
      "stages_skipped" -> c.stagesSkipped.toString, "tasks" -> c.tasks.toString,
      "failed_tasks" -> c.failedTasks.toString,
      "shuffle_write_bytes" -> c.shuffleWriteBytes.toString,
      "spill_bytes" -> c.spillBytes.toString,
      "exec_cpu_s" -> Json.num(c.execCpuNs / 1e9),
      "sched_wait_s" -> Json.num(c.schedWaitMs / 1e3),
      "job_intervals_ms" -> Json.arr(c.jobIntervals.toSeq.map { case (a, b) => s"[$a,$b]" }),
      "persisted_left" -> s.persistedLeft.toString))
  }
}

/** Peak heap still in use after garbage collection. Used-heap peaks
  * before collection only show the heap size; after-GC usage shows what
  * a pass keeps live (cached blocks, leaked state).
  */
final class LiveHeap {
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  private val peak = new java.util.concurrent.atomic.AtomicLong(0L)
  private val listener = new NotificationListener {
    def handleNotification(n: Notification, handback: Any): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
      }
  }
  ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach(
    _.asInstanceOf[NotificationEmitter].addNotificationListener(listener, null, null))

  def reset(): Unit = peak.set(0L)

  /** Collects once, so a pass without any collection still reads its
    * live heap at the end.
    */
  def peakMb(): Double = {
    System.gc()
    val end = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    math.max(peak.get, end) / 1048576.0
  }
}

/** Minimal JSON writer for the run's result file. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  /** A result cell: numbers and booleans as JSON scalars, timestamps as
    * epoch microseconds, anything nested as its canonical rendering.
    */
  def value(v: Any): String = v match {
    case null => "null"
    case b: Boolean => b.toString
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case n @ (_: Int | _: Long | _: Short | _: Byte) => n.toString
    case s: String => str(s)
    case t: java.sql.Timestamp =>
      (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000).toString
    case x => str(Digest.render(x))
  }
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
