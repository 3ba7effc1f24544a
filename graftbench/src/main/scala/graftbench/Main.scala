package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.io.Source

import com.sun.management.HotSpotDiagnosticMXBean
import org.apache.spark.sql.SparkSession

object Stats {
  /** Median of a sample; NaN when it is empty. */
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val m = s.size / 2
    if (s.size % 2 == 1) s(m) else (s(m - 1) + s(m)) / 2
  }
}

/** Entry point. One run measures one workload untraced (`--trace 0`,
  * end-to-end metrics) or profiles every workload traced (`--trace 1`,
  * per-layer metrics). The last line of standard output is the result
  * JSON; the process exits 3 when a correctness check failed. */
object Main {

  /** Input sizes of this benchmark definition. */
  val sizes: Sizes = Sizes(perFamily = 10000, bulkRows = 10000, docs = 2000,
    vectors = 2000, queries = 64)

  /** Set-ups per untraced run; `setup_s` is their median. The first
    * pays the JVM's JIT warm-up (about 30 s on petro_text_batch), each
    * further one a whole operation, and the benchmark's runs must fit a
    * fixed time budget, so a run sets up twice. */
  val Setups = 2

  private def session(work: Path, nproc: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def seconds(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds used by every thread of this process so far. The host
    * charges time a virtual CPU waits for the hypervisor (steal) to
    * nobody, so unlike wall time this does not grow when neighbours on
    * a shared host are busy. */
  private def cpuSeconds(): Double = os.getProcessCpuTime / 1e9

  private def peakRssMb(): Double = {
    val src = Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  private def machine(nproc: Int): String = {
    val diag = ManagementFactory.getPlatformMXBean(classOf[HotSpotDiagnosticMXBean])
    val codeCache = diag.getVMOption("ReservedCodeCacheSize").getValue.toLong / (1024 * 1024)
    val heap = Runtime.getRuntime.maxMemory / (1024 * 1024)
    s"""{"nproc":$nproc,"spark_master":"local[$nproc]","shuffle_partitions":$nproc,""" +
      s""""heap_mb":$heap,"code_cache_mb":$codeCache,""" +
      s""""jdk":"${System.getProperty("java.version")}",""" +
      s""""spark":"${org.apache.spark.SPARK_VERSION}","scala":"${scala.util.Properties.versionNumberString}"}"""
  }

  private def json(tally: Tally, metrics: Seq[(String, Double, String)]): String = {
    val ms = metrics.map { case (n, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "null" else v.toString
      s""""$n": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": ${tally.failed == 0}, "attempted": ${tally.attempted}, "failed": ${tally.failed}, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", sys.error("--workload is required"))
    val seed = opts.getOrElse("seed", "1").toLong
    val runSeconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val work = Paths.get(opts.getOrElse("work", "work")).toAbsolutePath
    require(Workload.all.contains(workload),
      s"unknown workload '$workload'; known: ${Workload.all.mkString(", ")}")
    val nproc = Runtime.getRuntime.availableProcessors
    Files.createDirectories(work)

    val tally = new Tally
    val metrics =
      if (trace) traced(work, seed, runSeconds, nproc, tally)
      else untraced(workload, work, seed, runSeconds, nproc, tally)
    tally.notes.foreach(n => System.err.println(s"[graftbench] FAILED $n"))
    println(s"graftbench machine ${machine(nproc)}")
    println(json(tally, metrics))
    System.out.flush()
    sys.exit(if (tally.failed == 0) 0 else 3)
  }

  private def generate(w: Workload, work: Path, seed: Long): Unit = {
    val t0 = System.nanoTime()
    val dir = work.resolve("inputs").resolve(w.name)
    w.generate(dir, seed)
    System.err.println(f"[graftbench] generated ${w.name} inputs (seed $seed) in ${seconds(t0)}%.2f s")
  }

  /** End-to-end metrics of one workload, tracing off. */
  private def untraced(name: String, work: Path, seed: Long, runSeconds: Double,
      nproc: Int, tally: Tally): Seq[(String, Double, String)] = {
    val w = Workload(name, sizes)
    generate(w, work, seed)
    val off = new Tracer(null, enabled = false)
    var spark: SparkSession = null
    val setups = (1 to Setups).map { _ =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      val c0 = cpuSeconds()
      spark = session(work, nproc)
      val started = seconds(t0)
      w.setup(spark, off, tally)
      (started, seconds(t0), cpuSeconds() - c0)
    }.map { case (started, total, cpu) =>
      System.err.println(f"[graftbench] set-up $total%.3f s (session start $started%.3f s, cpu $cpu%.3f s)")
      total
    }
    (0 until w.settleOps).foreach(_ => w.op(off, tally))
    val lat = mutable.ArrayBuffer.empty[Double]
    val cpu = mutable.ArrayBuffer.empty[Double]
    var items = 0L
    val t0 = System.nanoTime()
    while (lat.isEmpty || seconds(t0) < runSeconds) {
      val s = System.nanoTime()
      val c = cpuSeconds()
      items += w.op(off, tally)
      lat += seconds(s)
      cpu += cpuSeconds() - c
    }
    val wall = seconds(t0)
    spark.stop()
    System.err.println(f"[graftbench] ${lat.size} operations in $wall%.2f s; " +
      f"p50 ${Stats.median(lat.toSeq)}%.4f s, max ${lat.max}%.4f s; " +
      f"cpu p50 ${Stats.median(cpu.toSeq)}%.4f s; all ${lat.map(l => f"$l%.3f").mkString(" ")}")
    w match {
      case b: PetroTextBatch =>
        System.err.println(f"[graftbench] dedup_recall ${b.text.lastRecall}%.4f " +
          f"false_drop_rate ${b.text.lastFalseDrop}%.4f")
      case v: VectorServe =>
        System.err.println(f"[graftbench] recall_at_10 ${v.recallAt10}%.4f index builds " +
          f"${v.buildSeconds.map(b => f"$b%.3f").mkString(" ")} s")
      case _ =>
    }
    val rate = if (tally.attempted == 0) 0.0 else 1.0 - tally.failed.toDouble / tally.attempted
    Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("peak_rss_mb", peakRssMb(), "MB"),
      ("success_rate", rate, "ratio"),
      ("items_per_s", items / wall, "1/s"),
      ("op_p50_s", Stats.median(lat.toSeq), "s"))
  }

  /** Per-layer metrics, tracing on. A traced run profiles every workload
    * in one session, in a fixed order, so each run reports every layer
    * as measured on the workload that calls it, whatever `--workload`
    * names. Per workload,
    * after its warm-up the run alternates traced and untraced operations
    * for its share of the run, so the tracing overhead is measured beside
    * the traced figures; the traced operation goes first, while the JIT
    * is still settling, so the overhead errs high. */
  private def traced(work: Path, seed: Long, runSeconds: Double, nproc: Int,
      tally: Tally): Seq[(String, Double, String)] = {
    val ws = Workload.all.map(Workload(_, sizes))
    ws.foreach(generate(_, work, seed))
    val spark = session(work, nproc)
    val listener = new EngineListener
    spark.sparkContext.addSparkListener(listener)
    val off = new Tracer(spark.sparkContext, enabled = false)
    val on = new Tracer(spark.sparkContext, enabled = true)
    val measured = ws.flatMap { w =>
      w.setup(spark, off, tally)
      val plain = mutable.ArrayBuffer.empty[Double]
      val withTrace = mutable.ArrayBuffer.empty[Double]
      val t0 = System.nanoTime()
      while (withTrace.isEmpty || seconds(t0) < runSeconds / ws.size) {
        val a = System.nanoTime()
        w.op(on, tally)
        withTrace += seconds(a)
        val b = System.nanoTime()
        w.op(off, tally)
        plain += seconds(b)
      }
      w.tracedExtras(on, tally)
      org.apache.spark.graftbench.ListenerBusDrain(spark.sparkContext)
      val roots = on.spans.filter(s => s.name == w.opSpan && s.parent < 0).toSeq
      val counters = EngineCounters(on, listener, roots).map { case (k, v) => k -> v / roots.size } +
        ("trace_overhead_s" -> (Stats.median(withTrace.toSeq) - Stats.median(plain.toSeq)))
      System.err.println(f"[graftbench] traced ${w.name}: ${withTrace.size} traced + " +
        f"${plain.size} untraced operations")
      w.layerMetrics(on, listener) ++ counters.map { case (k, v) => s"${w.name}.$k" -> v }
    }.toMap
    val out = work.resolve("trace")
    Files.createDirectories(out)
    Files.write(out.resolve(s"spans-seed$seed.jsonl"), on.toJson.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    measured.toSeq.sortBy(_._1).map { case (n, v) =>
      val unit = if (n.endsWith("_s")) "s" else if (n.endsWith("_mb")) "MB"
        else if (n.endsWith("_ratio") || n.endsWith("_rate") || n.contains("recall")) "ratio"
        else "count"
      (n, v, unit)
    }
  }
}
