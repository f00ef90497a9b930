package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Path, Paths}
import scala.collection.mutable

/** A finished op: latency in seconds, `kind` groups ops for per-kind
  * medians (e.g. "write"/"read" in tx-ops). */
final case class OpRecord(id: Int, kind: String, name: String, latencyS: Double, ok: Boolean,
                          cpuS: Double = 0.0)

/** What one run of a workload needs and records. */
final class Ctx(var spark: SparkSession, val work: Path, val seed: Long,
                val seconds: Double, val tracer: Option[Tracer], val benchDir: Path) {
  val data: String = work.resolve("data").toString
  val ops = mutable.ArrayBuffer[OpRecord]()
  val mismatches = mutable.ArrayBuffer[String]()
  val failures = mutable.ArrayBuffer[String]()
  /** End-to-end figures only this workload has (info line). */
  val extraE2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer figures the workload measures itself (traced run). */
  val layer = mutable.LinkedHashMap[String, Double]()
  val info = mutable.LinkedHashMap[String, String]()
  private var measureStart = 0L
  private var measureWall = 0.0

  /** Runs one op and records its latency; an exception fails the op. */
  def op(kind: String, name: String)(body: => Unit): Boolean = {
    val c0 = Proc.cpuNs()
    val t0 = System.nanoTime()
    val ok =
      try {
        tracer match {
          case Some(t) => t.span("op", name)(body)
          case None => body
        }
        true
      } catch {
        case e: Throwable =>
          failures += s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}"
          false
      }
    ops += OpRecord(ops.size, kind, name, (System.nanoTime() - t0) / 1e9, ok, (Proc.cpuNs() - c0) / 1e9)
    Main.log(f"op ${ops.size - 1} $kind $name ${ops.last.latencyS}%.3f s${if (ok) "" else " FAILED"}")
    ok
  }

  /** A traced call into one of the engine's layers. */
  def call[T](kind: String, name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(kind, name)(body)
    case None => body
  }

  def mismatch(what: String): Unit = mismatches += what

  /** Closed loop: runs step `next(i)` (one op, or a whole epoch) until
    * the measuring time is used up and `unitDone(i)` says step i ended
    * a whole unit of the mix. */
  def measure(unitDone: Int => Boolean = _ => true)(next: Int => Unit): Unit = {
    measureStart = System.nanoTime()
    var i = 0
    var stop = false
    while (!stop) {
      next(i)
      i += 1
      stop = elapsed >= seconds && unitDone(i - 1)
    }
    measureWall = elapsed
  }

  def elapsed: Double = (System.nanoTime() - measureStart) / 1e9
  def wall: Double = measureWall
}

trait Workload {
  def name: String
  /** Tables generated into ctx.data before the run (fixed seed). */
  def tables: Seq[String]
  /** Seeded per-run inputs, prepared `setupReps` times into fresh dirs;
    * set-up time counts the median. */
  def prepare(ctx: Ctx, attempt: Int): Unit = ()
  def setupReps: Int = 3
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx): Unit
  /** Output checks after the measured loop. */
  def check(ctx: Ctx): Unit
  /** Ops whose latencies feed op_p50_s / op_tail_s (llm-index: probes). */
  def latencyOps(ctx: Ctx): Seq[OpRecord] = ctx.ops.toSeq
}

object Main {
  val workloads: Seq[Workload] = Seq(SqlMix, Matmul, TxOps, LlmIndex)

  private def argMap(args: Array[String]): Map[String, String] =
    args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v
      case other => throw new IllegalArgumentException(s"bad argument ${other.mkString(" ")}") }.toMap

  def session(work: Path, cores: Int): SparkSession = {
    val s = graft.Engine.builder(cores)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = argMap(args)
    if (a.contains("gen-data")) { GenData.run(a("gen-data"), a("bench-dir")); return }
    val wl = workloads.find(_.name == a("workload"))
      .getOrElse(throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    val benchDir = Paths.get(a("bench-dir")).toAbsolutePath
    val cores = a("cores").toInt
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = session(work, cores)
    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(_.attach(spark))
    val ctx = new Ctx(spark, work, seed, seconds, tracer, benchDir)
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    // Set-up: tables, then the workload's seeded inputs prepared
    // several times (fresh dirs) and the median taken, then warm-up.
    val t0 = System.nanoTime()
    val tableBytes = Data.write(spark, ctx.data, wl.tables, Data.FixedSeed)
    val tablesS = (System.nanoTime() - t0) / 1e9
    val prepS = (0 until wl.setupReps).map { k =>
      val p0 = System.nanoTime(); wl.prepare(ctx, k); (System.nanoTime() - p0) / 1e9
    }
    val w0 = System.nanoTime()
    wl.warmup(ctx)
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionReadyS + tablesS + Stats.median(prepS) + warmS
    log(f"set-up $setupS%.2f s (session $sessionReadyS%.2f, tables $tablesS%.2f, " +
      f"prepare ${prepS.mkString(",")}, warm-up $warmS%.2f)")

    val (st0, tot0) = Proc.stealJiffies()
    wl.run(ctx)
    val (st1, tot1) = Proc.stealJiffies()
    val wall = ctx.wall
    val c0 = System.nanoTime()
    wl.check(ctx)
    log(f"measured ${ctx.ops.size} ops in $wall%.2f s; checks took ${(System.nanoTime() - c0) / 1e9}%.2f s")
    tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))

    val done = ctx.ops.filter(_.ok)
    val lat = wl.latencyOps(ctx).filter(_.ok).map(_.latencyS)
    val attempted = ctx.ops.size
    val failed = ctx.ops.count(!_.ok) + ctx.mismatches.size
    val tail = Stats.tail(lat)
    val opsPerS = done.size / wall

    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("ops_per_s", opsPerS, "1/s"),
        ("op_p50_s", Stats.medianOr0(lat), "s"),
        ("op_tail_s", tail.map(_._1).getOrElse(0.0), "s"),
        ("peak_rss_mb", Proc.peakRssMb(), "MB"))
      else Layers.derive(ctx, tracer.get, cores) ++
        Seq(("trace.ops_per_s", opsPerS, "1/s"))

    val info = mutable.LinkedHashMap[String, Any](
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace, "seconds" -> seconds,
      "nproc" -> Runtime.getRuntime.availableProcessors(), "local_n" -> cores,
      "heap_mb" -> Runtime.getRuntime.maxMemory() / (1 << 20),
      "jdk" -> System.getProperty("java.version"), "spark" -> spark.version,
      "commit" -> a.getOrElse("commit", "unknown"),
      "op_tail_percentile" -> tail.map(_._2).getOrElse(0.0),
      "op_tail_samples_beyond" -> (if (tail.isDefined) 10 else 0),
      "latency_samples" -> lat.size,
      "failed_frac" -> failed.toDouble / math.max(attempted, 1),
      "measure_wall_s" -> wall,
      "cpu_steal_pct" -> 100.0 * (st1 - st0) / math.max(tot1 - tot0, 1L),
      "op_cpu_p50_s" -> Stats.medianOr0(wl.latencyOps(ctx).filter(_.ok).map(_.cpuS)),
      "setup_parts_s" -> Map("session" -> sessionReadyS, "tables" -> tablesS,
        "prepare_median" -> Stats.median(prepS), "warmup" -> warmS),
      "table_rows" -> wl.tables.map(t => t -> Data.rowCounts(t)).toMap,
      "table_bytes" -> tableBytes) ++
      ctx.info ++ ctx.extraE2e ++
      Map("ops" -> ctx.ops.map(o => Seq(o.name, o.latencyS, o.ok, o.cpuS)).toSeq) ++
      Map("failures" -> ctx.failures.take(5).toSeq, "mismatches" -> ctx.mismatches.take(5).toSeq)
    println(Json.write(info))
    tracer.foreach(t => Layers.writeSpans(t, benchDir.getParent.resolve(
      s".perfbench_out/spans-${wl.name}-seed$seed.jsonl")))

    val ok = failed == 0 && attempted > 0
    val metricJson = metrics.map { case (k, v, u) => k -> Map("value" -> v, "unit" -> u) }
    println(Json.write(mutable.LinkedHashMap[String, Any](
      "correct" -> ok, "attempted" -> attempted, "failed" -> failed,
      "metrics" -> mutable.LinkedHashMap(metricJson: _*))))
    System.out.flush()
    spark.stop()
  }

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
}

object Proc {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU time of the whole JVM (all threads). */
  def cpuNs(): Long = os.getProcessCpuTime

  /** (steal, total) jiffies of all CPUs, from /proc/stat. */
  def stealJiffies(): (Long, Long) = {
    val f = java.nio.file.Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** The process's peak resident set (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = java.nio.file.Files.readAllLines(Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}

object Disk {
  def treeBytes(p: Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(java.nio.file.Files.size).sum
      } finally st.close()
    }
}

/** Minimal JSON writer for the result lines. */
object Json {
  def write(v: Any): String = v match {
    case null => "null"
    case s: String => graft.JsonOut.q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => write(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => write(other.toString)
  }
}
