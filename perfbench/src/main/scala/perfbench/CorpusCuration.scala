package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.api.Corpus
import graft.streaming.Events

/** `corpus_curation`: the compute- and shuffle-bound batch pipeline
  * (near-dup pairs → clusters → keepers → minus → Curate verdicts), then a
  * streaming ingest gate against the curated corpus, one delta file per
  * micro-batch. The only workload where operator compute, shuffle and the
  * streaming engine dominate.
  *
  * The generator builds the replica from known duplicate families and
  * writes the expected keeper set; exact copies in the deltas must be
  * rejected and novel documents admitted. */
object CorpusCuration extends Workload {
  @volatile private var docs: DataFrame = _

  def open(spark: SparkSession, inputs: Path, runDir: Path): Unit =
    docs = spark.read.parquet(inputs.resolve("docs").toString)

  private def truth(inputs: Path): Map[String, String] =
    Files.readAllLines(inputs.resolve("truth.tsv")).asScala
      .filter(_.contains('\t')).map(_.split("\t", 2)).map(a => a(0) -> a(1)).toMap
  private def ids(s: String): Set[Long] =
    s.split(",").filter(_.nonEmpty).map(_.toLong).toSet

  /** One batch curation pass; returns the curated corpus and its digest
    * (id-set digest, token sum, non-keeper count, row digest). */
  private def pass(ctx: Ctx, name: String, sink: DataFrame => Unit): (Corpus, Seq[String]) = {
    val t = ctx.tracer
    val c = t.span("api", "Corpus")(Corpus(docs))
    // these three verbs only delegate to the operator objects, so their
    // time is the operators' construction (dupClusters runs eager jobs)
    val pairs = t.span("operators", "Corpus.nearDupPairs")(c.nearDupPairs(0.6))
    val clusters = t.span("operators", "Corpus.dupClusters")(c.dupClusters(pairs))
    val verdicts = t.span("operators", "Corpus.keepers")(c.keepers(clusters))
    val clean = t.span("api", "minus")(c.minus(verdicts.where(!col("is_keeper"))))
    val res = t.span("api", "Curate")(
      clean.curate.langId().quality().tokenCount().exactDedup().result())
    val obs = Observation(name)
    val dig = Digest.idColumns(col("doc_id")) ++ Seq(
      coalesce(sum(col("n_tokens")), lit(0L)).as("tokens"),
      count(when(!col("is_keeper"), 1)).as("dups")) ++ Digest.columns(res)
    t.span("exec", "noop")(sink(res.observe(obs, dig.head, dig.tail: _*)))
    val m = obs.get
    (clean, Seq(Digest.idsOf(m), m("tokens").toString, m("dups").toString, Digest.of(m)))
  }

  /** One streaming round: its micro-batch progress durations, wall,
    * input documents, and the admitted and rejected id sets. */
  private final case class Round(progress: Seq[java.util.Map[String, java.lang.Long]],
      wallS: Double, docs: Long, admitted: Set[Long], rejected: Set[Long])

  private def gate(ctx: Ctx, round: Int, curated: DataFrame): Round = {
    val dir = ctx.runDir.resolve(s"gate-$round")
    val deltas = ctx.inputs.resolve("deltas").toString
    val t0 = System.nanoTime()
    val q = ctx.tracer.span("streaming", "Events.dedupIngestGate") {
      val stream = ctx.spark.readStream.schema(docs.schema)
        .option("maxFilesPerTrigger", 1).parquet(deltas)
      val q = Events.dedupIngestGate(stream, curated, dir.resolve("admitted").toString,
        dir.resolve("rejected").toString, dir.resolve("ckpt").toString, Trigger.AvailableNow())
      ctx.tracer.adoptStream(q.runId.toString)
      q.awaitTermination()
      q
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    def idsAt(p: Path) = ctx.spark.read.parquet(p.toString).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    Round(progress.map(_.durationMs).toSeq, wall, progress.map(_.numInputRows).sum,
      idsAt(dir.resolve("admitted")), idsAt(dir.resolve("rejected")))
  }

  def run(ctx: Ctx): Results = {
    val tr = truth(ctx.inputs)
    val deltaIds = ids(tr("delta_ids"))
    val mustReject = ids(tr("must_reject"))
    val mustAdmit = ids(tr("must_admit"))
    val o = ctx.outcome

    def checkPass(op: String, d: Seq[String], want: Option[String]): Boolean =
      (d(0) == tr("keepers") || o.wrong(op, s"keeper set digest ${d(0)}, expected ${tr("keepers")}")) &&
        (d(1) == tr("keeper_tokens") || o.wrong(op, s"sum(n_tokens) ${d(1)}, expected ${tr("keeper_tokens")}")) &&
        (d(2) == "0" || o.wrong(op, s"${d(2)} exact duplicates survived near-dup removal")) &&
        want.forall(w => d(3) == w || o.wrong(op, s"verdict digest ${d(3)} differs from the warm-up pass's $w"))

    def checkGate(op: String, adm: Set[Long], rej: Set[Long], want: Option[(Set[Long], Set[Long])]): Boolean =
      ((adm & rej).isEmpty && (adm | rej) == deltaIds ||
        o.wrong(op, s"admitted ${adm.size} + rejected ${rej.size} != input ${deltaIds.size}")) &&
        (mustReject.subsetOf(rej) || o.wrong(op, s"${(mustReject -- rej).size} exact copies admitted")) &&
        (mustAdmit.subsetOf(adm) || o.wrong(op, s"${(mustAdmit -- adm).size} novel documents rejected")) &&
        want.forall(w => (adm, rej) == w || o.wrong(op, "admitted/rejected sets differ from the warm-up round's"))

    // untimed warm-up: one pass that also writes the curated corpus the
    // gate screens against, and one gate round
    val curatedDir = ctx.runDir.resolve("curated").toString
    val warm = o.attempt("curate(warm-up)") {
      val (clean, d) = pass(ctx, "warm", _.write.format("noop").mode("overwrite").save())
      clean.docs.write.mode("overwrite").parquet(curatedDir)
      checkPass("curate(warm-up)", d, None)
      d(3)
    }
    val curated = ctx.spark.read.parquet(curatedDir)
    val warmGate = o.attempt("gate(warm-up)") {
      val g = gate(ctx, 0, curated)
      checkGate("gate(warm-up)", g.admitted, g.rejected, None)
      (g.admitted, g.rejected)
    }

    ctx.tracer.active = true
    val t0 = System.nanoTime()
    val passes = Seq.newBuilder[Double]
    var k = 0
    // batch phase: the first half of the window, at least one pass
    while (k == 0 || System.nanoTime() < ctx.deadline(t0, ctx.seconds / 2)) {
      k += 1
      val op = s"curate(pass=$k)"
      o.attempt(op) {
        val p0 = System.nanoTime()
        val (_, d) = ctx.tracer.op("curate")(pass(ctx, s"pass$k",
          _.write.format("noop").mode("overwrite").save()))
        val ms = (System.nanoTime() - p0) / 1e6
        if (checkPass(op, d, warm)) passes += ms
      }
    }
    // streaming phase: the rest of the window, at least one round
    val batchMs = Seq.newBuilder[Double]
    var gateDocs, gateS = 0.0
    val stream = Seq.newBuilder[java.util.Map[String, java.lang.Long]]
    var round = 0
    while (round == 0 || System.nanoTime() < ctx.deadline(t0, ctx.seconds)) {
      round += 1
      val op = s"gate(round=$round)"
      o.attempt(op) {
        val g = ctx.tracer.op("gate")(gate(ctx, round, curated))
        if (checkGate(op, g.admitted, g.rejected, warmGate)) {
          batchMs ++= g.progress.map(_.get("triggerExecution").doubleValue)
          stream ++= g.progress
          gateDocs += g.docs
          gateS += g.wallS
        }
      }
    }
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.tracer.active = false
    val ps = stream.result()
    def med(key: String) =
      if (ps.isEmpty) 0.0 else Stats.median(ps.map(p => Option(p.get(key)).fold(0.0)(_.doubleValue)))
    Results(batchMs.result(), gateDocs / gateS, passes.result(), wall, Map(
      "streaming.batches" -> ps.size.toDouble,
      "streaming.batch_ms" -> med("triggerExecution"),
      "streaming.add_batch_ms" -> med("addBatch"),
      "streaming.commit_ms" -> med("commitOffsets"),
      "streaming.admit_frac" -> warmGate.fold(0.0)(_._1.size.toDouble / deltaIds.size)))
  }
}
