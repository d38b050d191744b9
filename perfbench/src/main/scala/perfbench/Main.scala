package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable
import scala.util.{Failure, Success, Try}

import org.apache.spark.PerfbenchBus

import graft.Bench

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** One benchmark run of one workload: set up (session, [[WarmOps]] untimed
  * ops), then a closed loop of ops from this one thread for the given
  * seconds. With `--trace 0` it prints the end-to-end metrics; with
  * `--trace 1` it runs the loop untraced and then traced for half the
  * seconds each, then the direct layer calls of [[Layers]], and prints the
  * per-layer metrics.
  * The last stdout line is the result JSON.
  *
  * {{{
  * java -cp ... perfbench.Main --workload dedup --seed 1 --seconds 12 --trace 0 \
  *   --inputs <dir> --probe <dir> --work <dir>
  * }}}
  */
object Main {

  /** Op ids of the direct layer calls start here, apart from workload ops. */
  val ProbeOps = 1000000

  /** Untimed ops in set-up: the first timed ops of a dedup run still ran
    * 10–25% slower than later ones after a single warm-up op.
    */
  val WarmOps = 2

  final case class OpRec(
      id: Int, wallS: Double, startMs: Long, endMs: Long, out: Option[OpOut],
      snapRdds: Int, snapMb: Double, heapMb: Double, cpuS: Double)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val cores = Runtime.getRuntime.availableProcessors()
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()

    val spark = Bench.buildSession()
    val w = Workload(a("workload"), spark, new File(a("inputs")), new File(a("work")))
    (1 to WarmOps).foreach { k =>
      val c = w.op(-k, Tracer.Off)()
      require(c.problems.isEmpty, s"warm-up op failed its check: ${c.problems}")
    }
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val sc = spark.sparkContext
    val cpu = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    def phase(first: Int, seconds: Double, tracer: Option[Tracer], afterOp: OpRec => Unit): Seq[OpRec] = {
      val spans: Tracer.Spans = tracer.getOrElse(Tracer.Off)
      val recs = mutable.ArrayBuffer[OpRec]()
      val t0 = System.nanoTime()
      var i = 0
      while (i < w.minOps || (System.nanoTime() - t0) / 1e9 < seconds) {
        val id = first + i
        tracer.foreach(_.beginOp(id))
        val m0 = System.currentTimeMillis()
        val c0 = cpu.getProcessCpuTime
        val s0 = System.nanoTime()
        val run = Try(spans("op")(w.op(id, spans)))
        val wall = (System.nanoTime() - s0) / 1e9
        val cpuS = (cpu.getProcessCpuTime - c0) / 1e9
        val m1 = System.currentTimeMillis()
        val out = run.flatMap(check => Try(check())) match {
          case Success(o) =>
            if (o.problems.nonEmpty) System.err.println(s"[perfbench] op $id: ${o.problems.mkString("; ")}")
            Some(o)
          case Failure(e) =>
            System.err.println(s"[perfbench] op $id failed: $e")
            None
        }
        val storage = sc.getRDDStorageInfo
        val rt = Runtime.getRuntime
        // queued listener events hold objects until delivered
        PerfbenchBus.drain(sc)
        System.gc()
        val rec = OpRec(id, wall, m0, m1, out, sc.getPersistentRDDs.size,
          storage.map(s => s.memSize + s.diskSize).sum / 1048576.0,
          (rt.totalMemory - rt.freeMemory) / 1048576.0, cpuS)
        afterOp(rec)
        recs += rec
        i += 1
      }
      recs.toSeq
    }

    def ok(r: OpRec) = r.out.exists(_.problems.isEmpty)
    // rates are medians over ops of the op's own rate, so one op slowed by
    // the host cannot move them; a failed op counts as completing nothing
    def perOpRate(recs: Seq[OpRec], of: OpOut => Long) =
      Stats.median(recs.map(r => r.out.filter(_.problems.isEmpty).fold(0L)(of) / r.wallS))
    def recordsPerS(recs: Seq[OpRec]) = perOpRate(recs, _.records)
    def p50(recs: Seq[OpRec]) = Stats.median(recs.map(_.wallS))

    val (recs, metrics, traceOut) =
      if (!trace) {
        val recs = phase(0, seconds, None, _ => ())
        val done = recs.filter(ok).flatMap(_.out)
        val outBytes = done.map(_.outBytes).sum
        val m = Seq(
          "setup_s" -> (setupS, "s"),
          "records_per_s" -> (recordsPerS(recs), "1/s"),
          "input_mb_per_s" -> (perOpRate(recs, _.inBytes) / 1e6, "MB/s"),
          "op_p50_s" -> (p50(recs), "s"),
          // metrics that do not apply to a workload read 1 (see README)
          "out_bytes_per_in_byte" ->
            (if (outBytes > 0) outBytes.toDouble / done.map(_.inBytes).sum else 1.0, "ratio"),
          "dup_recall" -> (w.quality.getOrElse("dup_recall", 1.0), "ratio"),
          "ok_rate" -> (recs.count(ok).toDouble / recs.size, "ratio"),
          "live_heap_mb" -> (Stats.median(recs.map(_.heapMb)), "MiB"))
        (recs, m, None)
      } else {
        // the run's seconds are split between an untraced and a traced loop
        val untraced = phase(0, seconds / 2, None, _ => ())
        val listener = new JobListener
        sc.addSparkListener(listener)
        val tracer = new Tracer(sc)
        val perOp = mutable.ArrayBuffer[Map[String, Double]]()
        val traced = phase(untraced.size, seconds / 2, Some(tracer), { r =>
          tracer.endOp()
          PerfbenchBus.drain(sc)
          val (jobs, stages) = listener.take(r.id)
          listener.take(-1)
          tracer.attribute(jobs)
          // a job run by the benchmark's own action on a lazily built
          // frame has no program frame; it counts for the span's module
          perOp += opLayers(r, jobs.map { j =>
            if (j.module != "other" || j.span < 0) j
            else j.copy(module = tracer.spans(j.span).name.split('.')(0))
          }, stages, cores)
        })
        val layers = new Layers(spark, new File(a("probe")), work, tracer, listener, ProbeOps)
        val direct = layers.ops() ++ layers.text() ++ layers.vectors()
        val m = mutable.LinkedHashMap[String, (Double, String)](
          "trace.overhead_op_p50_s" -> (p50(traced) - p50(untraced), "s"),
          "trace.overhead_records_per_s" -> (recordsPerS(traced) - recordsPerS(untraced), "1/s"))
        perOp.head.keys.foreach { k =>
          m(k) = (Stats.median(perOp.map(_(k)).toSeq), LayerUnits(k))
        }
        direct.foreach { case (k, v) => m(k) = (v, LayerUnits(k)) }
        (untraced ++ traced, m.toSeq, Some(tracer))
      }

    val loadEnd = loadavg()
    val attempted = recs.size
    val failed = recs.count(r => !ok(r))
    val floors = Map("dup_recall" -> 0.9)
    val correct = failed == 0 && w.quality.forall { case (k, v) => v >= floors(k) }
    val metricsJson = metrics.map { case (k, (v, u)) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}"""
    }.mkString("{", ", ", "}")
    val result = s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $metricsJson}"""

    val runs = new File(work, "runs")
    runs.mkdirs()
    val tag = s"${w.name}-seed${a("seed")}-trace${a("trace")}"
    val record =
      s"""{"workload": "${w.name}", "seed": ${a("seed")}, "trace": ${a("trace")}, """ +
        s""""seconds": $seconds, "nproc": $cores, "heap_max_mb": ${Runtime.getRuntime.maxMemory / 1048576}, """ +
        s""""loadavg_start": "$loadStart", "loadavg_end": "$loadEnd", """ +
        s""""gen_s": ${a.getOrElse("gen_s", "null")}, """ +
        s""""setup_s": ${num(setupS)}, """ +
        s""""op_s": ${recs.map(r => num(r.wallS)).mkString("[", ", ", "]")}, """ +
        s""""op_cpu_s": ${recs.map(r => num(r.cpuS)).mkString("[", ", ", "]")}, """ +
        s""""quality": ${w.quality.map { case (k, v) => s""""$k": ${num(v)}""" }.mkString("{", ", ", "}")}, """ +
        s""""result": $result}"""
    write(new File(runs, s"$tag.json"), record + "\n")
    traceOut.foreach(t => write(new File(runs, s"$tag.spans.json"), spansJson(t)))
    spark.stop()
    println(result)
  }

  /** Units of the per-layer metrics. */
  val LayerUnits: Map[String, String] = Map(
    "spark.jobs" -> "count", "spark.task_s" -> "s", "spark.busy_share" -> "share",
    "spark.scan_bytes_per_input_byte" -> "ratio", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.output_bytes" -> "bytes", "spark.task_skew" -> "ratio",
    "spark.driver_self_s" -> "s",
    "shims.live_snap_rdds" -> "count", "shims.live_snap_mb" -> "MiB",
    "ops.coerce_plan_ms" -> "ms", "ops.coerce_ns_per_row" -> "ns",
    "ops.stamp_ms_per_file" -> "ms",
    "functions.minhash_ns_per_row" -> "ns", "functions.adc_ns_per_row" -> "ns",
    "functions.cosine_ns_per_row" -> "ns", "functions.unit_vector_ns_per_row" -> "ns",
    "operators.cc_s" -> "s", "operators.cc_jobs" -> "count", "operators.pq_shortlist_s" -> "s") ++
    JobListener.Modules.flatMap(m => Seq(s"$m.jobs" -> "count", s"$m.job_wall_share" -> "share"))

  /** Total length of the union of `[start, end]` intervals, clipped to `[lo, hi]`. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }.filter(x => x._1 < x._2)
      .sortBy(_._1).foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  /** The listener's counters for one traced op. */
  private def opLayers(
      r: OpRec, jobs: Seq[JobListener.Job], stages: Seq[JobListener.StageAgg],
      cores: Int): Map[String, Double] = {
    val taskS = stages.flatMap(_.taskMs).sum / 1e3
    val inBytes = r.out.fold(0L)(_.inBytes)
    val largest = if (stages.isEmpty) None else Some(stages.maxBy(_.taskMs.sum))
    val skew = largest.fold(1.0) { s =>
      s.taskMs.max / math.max(1.0, Stats.median(s.taskMs.map(_.toDouble).toSeq))
    }
    val wallMs = math.max(1L, r.endMs - r.startMs)
    val base = Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.task_s" -> taskS,
      "spark.busy_share" -> taskS / (r.wallS * cores),
      "spark.scan_bytes_per_input_byte" -> stages.map(_.inputBytes).sum.toDouble / math.max(1L, inBytes),
      "spark.shuffle_write_bytes" -> stages.map(_.shuffleWriteBytes).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble,
      "spark.output_bytes" -> stages.map(_.outputBytes).sum.toDouble,
      "spark.task_skew" -> skew,
      "spark.driver_self_s" ->
        (r.wallS - covered(jobs.map(j => (j.start, j.end)), r.startMs, r.endMs) / 1e3),
      "shims.live_snap_rdds" -> r.snapRdds.toDouble,
      "shims.live_snap_mb" -> r.snapMb)
    base ++ JobListener.Modules.flatMap { m =>
      val mine = jobs.filter(_.module == m)
      Seq(s"$m.jobs" -> mine.size.toDouble,
        s"$m.job_wall_share" ->
          covered(mine.map(j => (j.start, j.end)), r.startMs, r.endMs).toDouble / wallMs)
    }
  }

  private def spansJson(t: Tracer): String =
    t.spans.map { s =>
      val (jobs, jobMs) = t.spanJobs.getOrElse(s.id, (0, 0L))
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_ns": ${s.start}, "end_ns": ${s.end}, "jobs": $jobs, "job_ms": $jobMs}"""
    }.mkString("[\n", ",\n", "\n]\n")

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  private def write(f: File, s: String): Unit =
    Files.write(f.toPath, s.getBytes(StandardCharsets.UTF_8))

  private def loadavg(): String =
    Try(scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+").take(3).mkString(" "))
      .getOrElse("unavailable")
}
