package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

import graft.SparkEntry
import graft.sources.Tables

/** `query_mix`: a stratified sample of `SparkEntry.queries`, run by one
  * client in a closed loop, each query materialized to the `noop` sink as
  * `graft.Bench` does. Bound by the per-job floor, eager jobs inside
  * operator construction, and planning; it lists almost nothing.
  *
  * The untimed warm-up pass writes every sampled query's output beside the
  * query's oracle SQL, so the harness can check it against DuckDB; each
  * timed execution must then reproduce the warm-up's row digest. */
object QueryMix extends Workload {
  private def data(inputs: Path) = inputs.resolve("data").toString

  def open(spark: SparkSession, inputs: Path, runDir: Path): Unit =
    Tables.names.foreach(Tables.load(spark, data(inputs), _))

  /** (query, operator object) in the seeded sample's order. */
  private def sample(inputs: Path): Seq[(String, String)] =
    Files.readAllLines(inputs.resolve("sample.tsv")).asScala.toSeq
      .filter(_.nonEmpty).map(_.split("\t")).map(a => a(0) -> a(1))

  private def observed(df: DataFrame, name: String): (DataFrame, Observation) = {
    val obs = Observation(name)
    val cols = Digest.columns(df)
    (df.observe(obs, cols.head, cols.tail: _*), obs)
  }
  private def digest(obs: Observation): String = Digest.of(obs.get)

  def run(ctx: Ctx): Results = {
    val dir = data(ctx.inputs)
    val qs = sample(ctx.inputs)
    val fns = SparkEntry.queries
    val expected = new ConcurrentHashMap[String, String]()
    val out = ctx.runDir.resolve("qout")

    // untimed warm-up on a pool, as graft.Bench warms up: compile every
    // sampled query once, keep its output for the oracle check, and record
    // the digest every timed execution must reproduce (a second warm-up
    // pass was measured to leave the timed pass unchanged)
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(out)
    Files.writeString(out.resolve("oracle_sql.json"),
      qs.map { case (q, _) => s""""$q":"${Json.esc(oracle.getOrElse(q, ""))}"""" }
        .mkString("{", ",", "}"))
    val pool = Executors.newFixedThreadPool(ctx.cpus)
    qs.foreach { case (q, _) =>
      pool.submit(new Runnable {
        def run(): Unit = ctx.outcome.attempt(q) {
          val (df, obs) = observed(fns(q)(ctx.spark, dir), s"warm_$q")
          df.coalesce(1).write.mode("overwrite").parquet(out.resolve(q).toString)
          expected.put(q, digest(obs))
        }
      })
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)

    val times = Seq.newBuilder[Double]
    val passes = Seq.newBuilder[Double]
    val byObject = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var n = 0
    /** One timed query; records its wall when its digest matches. */
    def timed(q: String, obj: String, pass: Int): Unit = ctx.outcome.attempt(q) {
      val q0 = System.nanoTime()
      val obs = ctx.tracer.op(q) {
        val d = ctx.tracer.span("operators", s"$obj.$q")(fns(q)(ctx.spark, dir))
        val (od, ob) = observed(d, s"p${pass}_$q")
        ctx.tracer.span("exec", "noop")(od.write.format("noop").mode("overwrite").save())
        ob
      }
      val s = (System.nanoTime() - q0) / 1e9
      System.err.println(f"[perfbench] pass $pass $q ${s * 1000}%.1f ms")
      val got = digest(obs)
      val want = Option(expected.get(q))
      if (!want.contains(got))
        ctx.outcome.wrong(q, s"row digest $got differs from the oracle-checked warm-up run's ${want.getOrElse("(none)")}")
      else {
        times += s * 1000
        byObject(obj) += s
        n += 1
      }
    }

    ctx.tracer.active = true
    val r = new Random(ctx.seed)
    val t0 = System.nanoTime()
    val end = ctx.deadline(t0, ctx.seconds)
    var pass = 0
    // the first pass always completes; later ones stop at the deadline
    while (pass == 0 || System.nanoTime() < end) {
      pass += 1
      val p0 = System.nanoTime()
      val ran = r.shuffle(qs).iterator.takeWhile(_ => pass == 1 || System.nanoTime() < end)
        .map { case (q, obj) => timed(q, obj, pass) }.size
      if (ran == qs.size) passes += (System.nanoTime() - p0) / 1e6
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.tracer.active = false
    Results(times.result(), n / wall, passes.result(), wall,
      byObject.map { case (o, s) => s"operators.$o.wall_s" -> s / math.max(1, pass) }.toMap)
  }
}
