package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run: the session, the trace, its own
  * scratch directory and the seed its inputs come from.
  */
final class Ctx(val spark: SparkSession, val trace: Trace, val dir: Path,
                val seed: Long, val dataDir: String) {
  val failures = ArrayBuffer.empty[String]
  var attempted = 0L

  /** Run one checked operation; an exception is recorded as a failure of
    * that operation (and fails the run), never dropped.
    */
  def attempt(what: String)(body: => Unit): Unit = {
    attempted += 1
    try body catch { case NonFatal(e) => fail(s"$what: ${e.getClass.getName}: ${e.getMessage}") }
  }

  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] FAILED $msg")
    failures += msg
  }

  def expect(what: String, expected: Any, actual: Any): Unit = {
    attempted += 1
    if (expected != actual) fail(s"$what: expected $expected, got $actual")
  }
}

/** A workload: inputs made from the seed, a one-time set-up that makes
  * the workload's first use of the program, a fixed mix of timed
  * operations, output checks and a report.
  */
trait Workload {
  def inputs(): Unit
  /** The workload's first use of the program; counted in `setup_s`. */
  def warm(): Unit
  /** Seconds of check work done inside `warm()`, left out of `setup_s`. */
  def checkInWarmS: Double = 0.0
  /** The timed operations. `deadline` (a `System.nanoTime`) is a lower
    * bound on how long to measure, for workloads that repeat whole passes.
    */
  def measure(deadline: Long): Unit
  /** An mjlog tree the traced run's parser and source probes read. */
  def corpusDir: Path
  def check(): Unit
  /** End-to-end metrics (other than set-up), then named metrics. */
  def report(): (Map[String, Double], Map[String, Any])
}

/** Benchmark entry point. Usage:
  * `perfbench.Main <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir>`
  *
  * Writes `<runDir>/result.json`; `run.py` turns it into the benchmark's
  * result line and runs the DuckDB oracle over the query dumps.
  */
object Main {
  def session(cpus: Int, localDir: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.expressions.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    require(args.length == 6, "usage: perfbench.Main <workload> <seed> <seconds> <trace> <runDir> <dataDir>")
    val Array(name, seedS, secondsS, traceS, runDirS, dataDir) = args
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = new Trace(traceS == "1")
    val dir = Paths.get(runDirS).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors

    // set-up, once and cold: from JVM start through the session start and
    // the workload's first use of the program
    val spark = session(cpus, Files.createDirectories(dir.resolve("spark-local")))
    trace.attach(spark)
    val ctx = new Ctx(spark, trace, dir, seed, dataDir)
    val w: Workload = name match {
      case "etl"       => new Etl(ctx)
      case "query_mix" => new QueryMix(ctx)
      case other       => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    val g0 = System.nanoTime()
    w.inputs()
    val inputS = (System.nanoTime() - g0) / 1e9
    val w0 = System.nanoTime()
    w.warm()
    val warmS = (System.nanoTime() - w0) / 1e9
    // input generation and checks are the harness's, not the program's
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3 - inputS - w.checkInWarmS

    val m0 = System.nanoTime()
    w.measure(m0 + (seconds * 1e9).toLong)
    val measuredS = (System.nanoTime() - m0) / 1e9

    val c0 = System.nanoTime()
    w.check()
    val checkS = (System.nanoTime() - c0) / 1e9
    val (e2e, named) = w.report()
    trace.drain(spark)
    val layers = if (trace.enabled) Layers(ctx, named, w.corpusDir) else Map.empty[String, Double]
    if (trace.enabled) Layers.writeSpans(trace, dir.resolve("spans.jsonl"))

    val heap = Runtime.getRuntime.maxMemory
    val result = Map(
      "workload" -> name, "seed" -> seed, "cpus" -> cpus, "heap_bytes" -> heap,
      "trace" -> trace.enabled, "measured_s" -> measuredS, "warm_s" -> warmS,
      "input_gen_s" -> inputS, "check_s" -> checkS,
      "attempted" -> ctx.attempted, "failures" -> ctx.failures.toSeq,
      "metrics" -> (e2e + ("setup_s" -> setupS)),
      "named" -> named, "layers" -> layers)
    Files.writeString(dir.resolve("result.json"), Json(result))
    spark.stop()
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  /** Harrell-Davis estimate of the median: the order statistics weighted
    * by a Beta((n+1)/2, (n+1)/2) density, so every sample counts and one
    * sample crossing its neighbour moves the estimate a little, not a whole
    * step. Steadier than the sample median on the few samples a run has.
    */
  def p50(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "p50 of no samples")
    val s = xs.sorted
    val n = s.length
    val a = (n + 1) / 2.0
    val per = 1000
    val density = (0 to n * per).map { i =>
      val t = i.toDouble / (n * per)
      math.pow(t, a - 1) * math.pow(1 - t, a - 1)
    }
    val cdf = density.sliding(2).scanLeft(0.0) { (acc, lr) => acc + (lr(0) + lr(1)) / 2 }.toVector
    s.indices.map(i => (cdf((i + 1) * per) - cdf(i * per)) / cdf.last * s(i)).sum
  }

  /** The highest percentile with at least ten samples above it: its
    * value, the percentile and the sample count. Needs 11 samples.
    */
  def tail(xs: Seq[Double]): Map[String, Any] = {
    require(xs.length >= 11, s"tail needs at least 11 samples, got ${xs.length}")
    val s = xs.sorted
    val i = s.length - 11
    Map("s" -> s(i), "percentile" -> 100.0 * (i + 1) / s.length, "n" -> s.length)
  }
}

/** Minimal JSON writer for the result file. */
object Json {
  def apply(v: Any): String = v match {
    case null           => "null"
    case s: String      => quote(s)
    case b: Boolean     => b.toString
    case d: Double      => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float       => apply(f.toDouble)
    case n: Int         => n.toString
    case n: Long        => n.toString
    case m: Map[_, _]   => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case o: Option[_]   => o.map(apply).getOrElse("null")
    case other          => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
