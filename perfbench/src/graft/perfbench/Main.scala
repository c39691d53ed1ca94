package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Entry point of one benchmark run in a fresh JVM:
  * `graft.perfbench.Main --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *  --cores <n> --data <tables dir> --inputs <dir> --out <dir>`.
  * Writes `<out>/record.json` (metrics, counts, checks) and, when traced,
  * `<out>/spans.jsonl`. `run.py` generates the inputs and finishes the
  * record. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val cores = opts("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // same ContextCleaner safety net Bench and Verify set
      .config("spark.cleaner.periodicGC.interval", "1min")
      .config("spark.local.dir", opts("tmp"))
      .config("spark.sql.warehouse.dir",
        Paths.get("spark-warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val ctx = new Ctx(spark, opts)
    try {
      ctx.workload match {
        case "lineage-fetch" => Fetch.run(ctx)
        case "analytics" => Analytics.run(ctx)
        case w => throw new IllegalArgumentException(s"unknown workload $w")
      }
      ctx.write()
      spark.stop()
    } catch {
      case e: Throwable =>
        // a failed run may leave the service's non-daemon executor alive
        e.printStackTrace()
        sys.exit(1)
    }
  }
}

/** State of one run: options, tracer, job listener, and the record. */
final class Ctx(val spark: SparkSession, opts: Map[String, String]) {
  val workload: String = opts("workload")
  val seed: Long = opts("seed").toLong
  val seconds: Double = opts("seconds").toDouble
  val trace: Boolean = opts("trace") == "1"
  val cores: Int = opts("cores").toInt
  val data: String = opts("data")
  val inputs: String = opts("inputs")
  val out: String = opts("out")

  val tracer = new Tracer(trace)
  val jobs = new JobListener
  if (trace) spark.sparkContext.addSparkListener(jobs)

  /** Wall-clock epoch ms of the first timed operation (ends set-up). */
  var firstOpMs: Long = 0L
  var attempted: Long = 0L
  var failed: Long = 0L
  /** End-to-end metrics, measured on every run. */
  val e2e = mutable.LinkedHashMap[String, Double]()
  /** Per-layer metrics; only meaningful on a traced run. */
  val layer = mutable.LinkedHashMap[String, Double]()
  /** Layers this workload never calls; run.py reports their per-layer
    * metrics as 0. Any other per-layer metric left unset is an error. */
  private val bypassedLayers = mutable.LinkedHashSet[String]()
  def bypassed(layers: String*): Unit = bypassedLayers ++= layers
  /** Everything else worth reading afterwards (per query, per op kind). */
  val detail = mutable.LinkedHashMap[String, Any]()
  private val checks = mutable.ArrayBuffer[Map[String, Any]]()
  /** Results the Python side checks against DuckDB: name -> oracle SQL. */
  val oracles = mutable.LinkedHashMap[String, String]()

  private var gcAtStart = 0.0

  def startTimed(): Unit = {
    gcAtStart = gcMs
    firstOpMs = System.currentTimeMillis()
  }

  /** Close the timed window: memory peak and GC time within it. */
  def endTimed(): Unit = {
    e2e("rss_peak_mb") = rssPeakMb
    layer("jvm.gc_ms") = gcMs - gcAtStart
  }

  def check(name: String, ok: Boolean, info: String = ""): Unit =
    checks += Map("name" -> name, "ok" -> ok, "info" -> info)

  /** Write `df` (one file) for the DuckDB oracle check done by run.py. */
  def oracle(name: String, df: org.apache.spark.sql.DataFrame,
             sql: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$name")
    oracles(name) = sql
  }

  def gcMs: Double = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.toDouble).sum

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def rssPeakMb: Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def write(): Unit = {
    val rec = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "cores" -> cores, "seconds" -> seconds,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "jvm" -> System.getProperty("java.runtime.version"),
      "spark" -> spark.version,
      "first_op_ms" -> firstOpMs, "attempted" -> attempted, "failed" -> failed,
      "checks" -> checks.toSeq, "e2e" -> e2e, "layer" -> layer,
      "bypassed" -> bypassedLayers.toSeq,
      "detail" -> detail)
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, "record.json"), Json(rec).getBytes(UTF_8))
    Files.write(Paths.get(out, "oracles.json"), Json(oracles).getBytes(UTF_8))
    if (trace) tracer.dump(Paths.get(out, "spans.jsonl"))
  }
}

/** In-memory spans around the calls the benchmark makes into each layer.
  * `span` is off (no clock reads, no allocation) on untraced runs. */
final class Tracer(enabled: Boolean) {
  final case class Span(id: Long, parent: Long, name: String,
                        startNs: Long, endNs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new java.util.concurrent.atomic.AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](name: String)(body: => T): T =
    if (!enabled) body else timed(name)(body)._1

  /** Run `body` and return its result with its duration in ms; the
    * duration is measured on every run, the span recorded when traced. */
  def timed[T](name: String)(body: => T): (T, Double) = {
    val id = if (enabled) ids.incrementAndGet() else 0L
    val parent = if (enabled) stack.get.headOption.getOrElse(0L) else 0L
    if (enabled) stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try {
      val r = body
      (r, (System.nanoTime() - t0) / 1e6)
    } finally if (enabled) {
      spans.add(Span(id, parent, name, t0, System.nanoTime()))
      stack.set(stack.get.tail)
    }
  }

  /** Durations in ms of every span called `name`. */
  def ms(name: String): Seq[Double] =
    spans.asScala.filter(_.name == name).map(s => (s.endNs - s.startNs) / 1e6).toSeq

  def dump(path: java.nio.file.Path): Unit =
    Files.write(path, spans.asScala.toSeq.sortBy(_.startNs).map { s =>
      Json(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    }.asJava)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  /** The tail: the highest percentile with at least ten samples beyond it,
    * i.e. the 11th-largest sample (the maximum of ten or fewer). Returns
    * (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n <= 10) (s.last, 100.0, n)
    else (s(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** JSON for the record and the spans, with the Jackson Scala module
  * that ships with Spark. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)
}
