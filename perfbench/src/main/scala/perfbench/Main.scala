package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

/** One failed operation: which workload, which op or query, the exception
  * class (or `WrongResult`) and the first line of its message. */
final case class Failure(workload: String, op: String, cls: String, msg: String) {
  def json: String =
    s"""{"workload":"${Json.esc(workload)}","op":"${Json.esc(op)}","class":"${Json.esc(cls)}","message":"${Json.esc(msg)}"}"""
}

/** Counts attempted operations and records every failure without
  * aborting the run. */
final class Outcome(workload: String) {
  val attempted = new AtomicLong()
  val failures = new ConcurrentLinkedQueue[Failure]()

  /** Run one timed operation; an exception is a failure, not an abort. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted.incrementAndGet()
    try Some(body)
    catch { case e: Throwable =>
      val first = Option(e.getMessage).getOrElse("").linesIterator.nextOption().getOrElse("")
      failures.add(Failure(workload, op, e.getClass.getName, first.take(300)))
      System.err.println(s"[perfbench] FAILED $op: ${e.getClass.getName}: $first")
      None
    }
  }

  def wrong(op: String, msg: String): Boolean = {
    failures.add(Failure(workload, op, "WrongResult", msg.take(300)))
    System.err.println(s"[perfbench] WRONG $op: $msg")
    false
  }

  /** Compare a measured value with the expected one; record a mismatch. */
  def check(op: String, what: String, got: Double, want: Double, relTol: Double = 1e-9): Boolean = {
    val ok = math.abs(got - want) <= relTol * math.max(1.0, math.abs(want))
    if (!ok) wrong(op, s"$what: got $got, expected $want")
    ok
  }
}

final case class Ctx(spark: SparkSession, tracer: Tracer, outcome: Outcome,
    seed: Long, seconds: Double, inputs: Path, runDir: Path, cpus: Int) {
  def deadline(from: Long, secs: Double): Long = from + (secs * 1e9).toLong
}

/** A workload: `open` is its set-up (timed as setup_s), `run` its timed
  * window, returning the end-to-end metrics it measured. */
trait Workload {
  def confs(inputs: Path, runDir: Path): Map[String, String] = Map.empty
  def open(spark: SparkSession, inputs: Path, runDir: Path): Unit
  def run(ctx: Ctx): Results
}

/** What a workload measured: its end-to-end metrics (tracing off), plus
  * the numbers only the workload can give the traced run. */
final case class Results(opMs: Seq[Double], workPerS: Double, passMs: Seq[Double],
    timedWallS: Double, extra: Map[String, Double] = Map.empty)

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
}

/** Order-independent digest of a DataFrame's rows, computed as an
  * observed metric so the timed action itself stays the one the user
  * runs. Doubles are rounded to 6 decimals so a last-bit difference in a
  * float sum does not read as a wrong answer. */
object Digest {
  private val P = 1000000007L
  def rowHash(df: DataFrame): Column = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col(s"`${f.name}`")
      f.dataType match {
        case DoubleType | FloatType => round(c.cast(DoubleType), 6)
        case _: MapType | _: StructType | _: ArrayType => to_json(struct(c))
        case _ => c
      }
    }
    if (cols.isEmpty) lit(0L) else pmod(xxhash64(cols: _*), lit(P))
  }
  def columns(df: DataFrame): Seq[Column] =
    Seq(count(lit(1)).as("n"), coalesce(sum(rowHash(df)), lit(0L)).as("h"))
  def of(m: Map[String, Any]): String = s"${m("n")}:${m("h")}"

  /** Set digest of a long id column: count, sum, and a mixed sum (the
    * generator computes the same three numbers for the expected set). */
  def idColumns(id: Column): Seq[Column] = Seq(count(lit(1)).as("ids_n"),
    coalesce(sum(id), lit(0L)).as("ids_sum"),
    coalesce(sum(pmod(id * lit(2654435761L), lit(P))), lit(0L)).as("ids_mix"))
  def idsOf(m: Map[String, Any]): String = s"${m("ids_n")}:${m("ids_sum")}:${m("ids_mix")}"
}

object Main {
  val SetupReps = 3

  def session(cpus: Int, runDir: Path, extra: Map[String, String]): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      // the confs graft.Bench and graft.Verify set, so the timed
      // semantics are the verified ones
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "256k")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", runDir.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", runDir.resolve("spark-warehouse").toString)
    extra.foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }.getOrCreate()
  }

  def workload(name: String): Workload = name match {
    case "signal_lookup" => SignalLookup
    case "query_mix" => QueryMix
    case "corpus_curation" => CorpusCuration
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = kv("workload")
    val inputs = Paths.get(kv("inputs")).toAbsolutePath
    val runDir = Paths.get(kv("run")).toAbsolutePath
    val cpus = kv("cpus").toInt
    Files.createDirectories(runDir)
    kv.getOrElse("mode", "run") match {
      case "gen" => SignalLookup.generate(inputs, runDir, cpus, kv("seed").toLong)
      case _ => run(name, inputs, runDir, cpus, kv("seed").toLong,
        kv("seconds").toDouble, kv("trace") == "1")
    }
  }

  def run(name: String, inputs: Path, runDir: Path, cpus: Int, seed: Long,
      seconds: Double, trace: Boolean): Unit = {
    val wl = workload(name)
    // set-up, several times, reported as the median: a fresh session with
    // the workload's inputs opened and ready to serve
    var spark: SparkSession = null
    val setups = (1 to SetupReps).map { r =>
      val t0 = System.nanoTime()
      spark = session(cpus, runDir, wl.confs(inputs, runDir))
      spark.sparkContext.setLogLevel("ERROR")
      wl.open(spark, inputs, runDir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < SetupReps) spark.stop()
      s
    }
    System.err.println(s"[perfbench] set-up done at ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val tracer = new Tracer(trace)
    tracer.attach(spark)
    val outcome = new Outcome(name)
    val res = wl.run(Ctx(spark, tracer, outcome, seed, seconds, inputs, runDir, cpus))
    System.err.println(s"[perfbench] timed window done at ${ManagementFactory.getRuntimeMXBean.getUptime} ms")
    val e2e = Map(
      "setup_s" -> Stats.median(setups),
      "op_p50_ms" -> Stats.quantile(res.opMs, 0.5),
      "op_p90_ms" -> Stats.quantile(res.opMs, 0.9),
      "op_geomean_ms" -> Stats.geomean(res.opMs),
      "work_per_s" -> res.workPerS,
      "pass_ms" -> Stats.median(res.passMs))
    val metrics =
      if (!trace) e2e
      else {
        org.apache.spark.BusDrain(spark.sparkContext)
        tracer.writeSpans(runDir.resolve("spans.jsonl"))
        Layers.report(tracer, res, e2e, cpus)
      }
    val failures = outcome.failures.asScala.toSeq
    val out =
      s"""{"attempted":${outcome.attempted.get},"failed":${failures.size},""" +
        s""""ops_timed":${res.opMs.size},"passes_timed":${res.passMs.size},""" +
        s""""setup_reps_s":[${setups.map(Json.num).mkString(",")}],""" +
        s""""metrics":{${metrics.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")}},""" +
        s""""failures":[${failures.map(_.json).mkString(",")}]}"""
    Files.writeString(runDir.resolve("result.json"), out + "\n")
    spark.stop()
  }
}
