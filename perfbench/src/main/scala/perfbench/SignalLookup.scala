package perfbench

import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.{AtomicInteger, AtomicReference}

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.Machine
import graft.catalog.SignalCatalog
import graft.sources.{Io, SignalSource}

/** `signal_lookup`: the FDF hot path, `machine.shot(n).signal(q)(…)`,
  * against a shot-partitioned warehouse with ingests beside the reads.
  * Time here goes to catalog resolution, file listing and planning rather
  * than compute, and each ingest makes any listing or metadata cache pay
  * for staleness.
  *
  * Every sample follows `SignalSource.value`, so each read's expected
  * row count and value checksum is computed here without Spark. */
object SignalLookup extends Workload {
  val Channels = 4
  val Radii = 8
  val DtBes = 1e-3
  val DtTe = 0.01
  val Shots = 48
  val Clients = 2
  /** Each client repeats this mix (clients start at different points):
    * a tenth of the reads through SQL, and an ingest every fifth
    * operation. A fixed mix keeps runs on different seeds comparable. */
  val Cycle = Seq("slice", "at", "resample", "dcRemoved", "ingest",
    "slice", "at", "resample", "sql", "ingest")
  val HotShots = 20

  /** Per-shot sizes, derived from the shot number so an ingested shot's
    * expected values are known without any state. */
  final case class Shot(n: Int, besPoints: Int, teTimes: Int)
  def shotOf(n: Int, seed: Long): Shot = {
    val r = new Random(seed * 1000003L + n)
    Shot(n, 200 + r.nextInt(101), 20 + r.nextInt(21))
  }
  def bes(s: Int, ch: Int, i: Int): Double = SignalSource.value(s, ch, i, DtBes)
  def te(s: Int, j: Int, i: Int): Double = SignalSource.value(s, j + 1, i, DtTe) + 10.0

  private def besRows(sh: Shot) = for (ch <- 1 to Channels; i <- 0 until sh.besPoints)
    yield (sh.n, ch, i * DtBes, bes(sh.n, ch, i))
  private def teRows(sh: Shot) = for (i <- 0 until sh.teTimes; j <- 0 until Radii)
    yield (sh.n, i * DtTe, 0.1 * (j + 1), te(sh.n, j, i), 0.01 * (j + 1))

  private val besXml =
    """<container name="bes" tree="bes" path=".BES">
      |  <axis name="time" node=".T" units="s"/>
      |  <signal name="ch" node=".CH" axes="time" units="V"/>
      |</container>
      |""".stripMargin
  private val mptsXml =
    """<container name="mpts" tree="activespec" path=".MPTS">
      |  <axis name="time" node=".T" units="s"/>
      |  <axis name="radius" node=".R" units="m"/>
      |  <signal name="te" node=".TE" units="keV" axes="radius, time" error=".TE_ERR"/>
      |</container>
      |""".stripMargin

  /** Writes the seeded warehouse through `Io.writeSignal`, one file per
    * shot, and the catalog XML that declares it. */
  def generate(inputs: Path, runDir: Path, cpus: Int, seed: Long): Unit = {
    val spark = Main.session(cpus, runDir, Map.empty)
    import spark.implicits._
    val cat = Files.createDirectories(inputs.resolve("catalog"))
    Files.writeString(cat.resolve("bes.xml"), besXml)
    Files.writeString(cat.resolve("mpts.xml"), mptsXml)
    val r = new Random(seed)
    val shots = Iterator.iterate(100000 + r.nextInt(1000))(_ + 1 + r.nextInt(3))
      .take(Shots).map(shotOf(_, seed)).toVector
    val wh = inputs.resolve("warehouse").toString
    val ds = spark.createDataset(shots.map(s => (s.n, s.besPoints, s.teTimes)))
      .repartition(cpus)
    Io.writeSignal(ds.flatMap { case (n, p, t) => besRows(Shot(n, p, t)) }
      .toDF("shot", "channel", "time", "value").repartition(col("shot")), wh, "bes.ch")
    Io.writeSignal(ds.flatMap { case (n, p, t) => teRows(Shot(n, p, t)) }
      .toDF("shot", "time", "radius", "value", "value_err").repartition(col("shot")), wh, "mpts.te")
    Files.writeString(inputs.resolve("shots.txt"), shots.map(_.n).mkString("\n") + "\n")
    val rows = shots.map(s => Channels * s.besPoints + Radii * s.teTimes).sum
    Files.writeString(inputs.resolve("sizes.json"),
      s"""{"shots":${shots.size},"files":${2 * shots.size},"rows":$rows,"channels":$Channels,"radii":$Radii}""" + "\n")
    spark.stop()
  }

  override def confs(inputs: Path, runDir: Path): Map[String, String] = Map(
    "spark.sql.sources.partitionOverwriteMode" -> "dynamic",
    "spark.sql.catalog.graft" -> "graft.catalog.GraftTableCatalog",
    "spark.sql.catalog.graft.xml" -> inputs.resolve("catalog").toString,
    "spark.sql.catalog.graft.dataDir" -> runDir.resolve("warehouse").toString)

  @volatile private var machine: Machine = _

  def open(spark: SparkSession, inputs: Path, runDir: Path): Unit = {
    val cat = SignalCatalog.fromFile(inputs.resolve("catalog/bes.xml").toString) ++
      SignalCatalog.fromFile(inputs.resolve("catalog/mpts.xml").toString)
    machine = Machine(spark, cat, runDir.resolve("warehouse").toString)
  }

  def run(ctx: Ctx): Results = {
    val seed = ctx.seed
    val known = Files.readAllLines(ctx.inputs.resolve("shots.txt")).toArray
      .map(_.toString.trim).filter(_.nonEmpty).map(s => shotOf(s.toInt, seed)).toVector
    val shots = new AtomicReference(known)
    val nextShot = new AtomicInteger(known.map(_.n).max + 1)
    val lookupMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
    val visibleMs = new java.util.concurrent.ConcurrentLinkedQueue[Double]()

    def pick(r: Random): Shot = {
      val v = shots.get
      if (r.nextDouble() < 0.8) v(v.size - 1 - r.nextInt(math.min(HotShots, v.size)))
      else v(r.nextInt(v.size))
    }

    /** One read of the given kind on shot `sh`; returns its wall in ms
      * when its output is correct. */
    def read(kind: String, r: Random, sh: Shot): Option[Double] = {
      val op = s"$kind(shot=${sh.n})"
      ctx.outcome.attempt(op) {
        val t0 = System.nanoTime()
        val correct = ctx.tracer.op(kind)(kind match {
          case "sql" => sqlRead(ctx, r, sh)
          case "slice" => sliceRead(ctx, r, sh)
          case "at" => atRead(ctx, r, sh)
          case "resample" => resampleRead(ctx, r, sh)
          case _ => dcRead(ctx, r, sh)
        })
        val ms = (System.nanoTime() - t0) / 1e6
        if (correct(op)) Some(ms) else None
      }.flatten
    }

    def ingest(r: Random): Unit = {
      val sh = shotOf(nextShot.getAndIncrement(), seed)
      val op = s"ingest(shot=${sh.n})"
      val ok = ctx.outcome.attempt(op) {
        val t0 = System.nanoTime()
        ctx.tracer.op("ingest") {
          import ctx.spark.implicits._
          val b = besRows(sh).toDF("shot", "channel", "time", "value")
          val t = teRows(sh).toDF("shot", "time", "radius", "value", "value_err")
          ctx.tracer.span("sources.write", "Io.writeSignal(bes.ch)")(
            Io.writeSignal(b, machine.dataDir, "bes.ch"))
          ctx.tracer.span("sources.write", "Io.writeSignal(mpts.te)")(
            Io.writeSignal(t, machine.dataDir, "mpts.te"))
        }
        t0
      }
      ok.foreach { t0 =>
        shots.updateAndGet(_ :+ sh)
        // the next read targets the new shot: visible = write call to a
        // correct read of it
        read("slice", r, sh).foreach { ms =>
          lookupMs.add(ms)
          visibleMs.add((System.nanoTime() - t0) / 1e6)
        }
      }
    }

    // untimed warm-up: every read kind once, plus one ingest
    val wr = new Random(seed ^ 0x5eed)
    Cycle.distinct.filter(_ != "ingest").foreach(read(_, wr, pick(wr)))
    ingest(wr)

    ctx.tracer.active = true
    val t0 = System.nanoTime()
    val end = ctx.deadline(t0, ctx.seconds)
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val r = new Random(seed * 7919L + c)
        var k = c * Cycle.size / Clients
        while (System.nanoTime() < end) {
          Cycle(k % Cycle.size) match {
            case "ingest" => ingest(r)
            case kind => read(kind, r, pick(r)).foreach(lookupMs.add)
          }
          k += 1
        }
      })
    }
    clients.foreach(_.start())
    clients.foreach(_.join())
    val wall = (System.nanoTime() - t0) / 1e9
    ctx.tracer.active = false
    import scala.jdk.CollectionConverters._
    val lk = lookupMs.asScala.toSeq
    Results(lk, lk.size / wall, visibleMs.asScala.toSeq, wall)
  }

  // ---- the reads: each returns a check to run after the clock stops ----

  private def frame(ctx: Ctx, q: String, sh: Shot) = {
    ctx.tracer.span("catalog", "SignalCatalog.signal")(machine.catalog.signal(q))
    ctx.tracer.span("sources", "Machine.shot.signal")(machine.shot(sh.n).signal(q))
  }

  private def sum(rows: Array[Row], col: String): Double =
    rows.iterator.map(_.getAs[Double](col)).sum

  private def sliceRead(ctx: Ctx, r: Random, sh: Shot): String => Boolean = {
    val endT = (sh.besPoints - 1) * DtBes
    val lo = r.nextDouble() * endT * 0.5
    val hi = lo + (0.1 + 0.4 * r.nextDouble()) * endT
    val chs = r.shuffle((1 to Channels).toList).take(2).sorted
    val f = frame(ctx, "bes.ch", sh)
    val sel = ctx.tracer.span("api", "slice.channels")(f.slice("time", lo, hi).channels(chs))
    val rows = ctx.tracer.span("exec", "collectTrace")(sel.collectTrace())
    op => {
      val want = for (ch <- chs; i <- 0 until sh.besPoints; t = i * DtBes
        if t >= lo && t <= hi) yield bes(sh.n, ch, i)
      if (rows.length != want.size) ctx.outcome.wrong(op, s"rows: got ${rows.length}, expected ${want.size}")
      else ctx.outcome.check(op, "sum(value)", sum(rows, "value"), want.sum)
    }
  }

  private def atRead(ctx: Ctx, r: Random, sh: Shot): String => Boolean = {
    val t = r.nextDouble() * (sh.teTimes - 1) * DtTe
    val f = frame(ctx, "mpts.te", sh)
    val sel = ctx.tracer.span("api", "at")(f.at("time", t))
    val rows = ctx.tracer.span("exec", "collect")(sel.df.collect())
    op => {
      val i = (0 until sh.teTimes).minBy(i => math.abs(i * DtTe - t))
      val want = (0 until Radii).map(te(sh.n, _, i))
      if (rows.length != Radii) ctx.outcome.wrong(op, s"rows: got ${rows.length}, expected $Radii")
      else if (!rows.forall(_.getAs[Double]("time") == i * DtTe))
        ctx.outcome.wrong(op, s"nearest time: expected ${i * DtTe}")
      else ctx.outcome.check(op, "sum(value)", sum(rows, "value"), want.sum)
    }
  }

  private def resampleRead(ctx: Ctx, r: Random, sh: Shot): String => Boolean = {
    val endT = (sh.besPoints - 1) * DtBes
    val lo = (0.2 + 0.2 * r.nextDouble()) * endT
    val hi = lo + (0.1 + 0.2 * r.nextDouble()) * endT
    val step = 2.5 * DtBes
    val ch = 1 + r.nextInt(Channels)
    val f = frame(ctx, "bes.ch", sh)
    val sel = ctx.tracer.span("api", "channels.resample")(
      f.channels(Seq(ch)).resample("time", lo, hi, step))
    val rows = ctx.tracer.span("exec", "collect")(sel.df.collect())
    op => {
      val n = math.floor((hi - lo) / step + 1e-9).toLong
      val want = (0L to n).map { k =>
        val x = lo + k * step
        val i = (0 until sh.besPoints - 1).find(i => (i + 1) * DtBes >= x).get
        val (t0, t1) = (i * DtBes, (i + 1) * DtBes)
        val (v0, v1) = (bes(sh.n, ch, i), bes(sh.n, ch, i + 1))
        v0 + (v1 - v0) * (x - t0) / (t1 - t0)
      }
      if (rows.length != want.size) ctx.outcome.wrong(op, s"rows: got ${rows.length}, expected ${want.size}")
      else ctx.outcome.check(op, "sum(value)", sum(rows, "value"), want.sum, 1e-7)
    }
  }

  private def dcRead(ctx: Ctx, r: Random, sh: Shot): String => Boolean = {
    val ch = 1 + r.nextInt(Channels)
    val n = 10 + r.nextInt(21)
    val f = frame(ctx, "bes.ch", sh)
    val sel = ctx.tracer.span("api", "channels.dcRemoved.aggValue")(
      f.channels(Seq(ch)).dcRemoved(n).aggValue(max(_)))
    val got = ctx.tracer.span("exec", "collect")(sel.collect()).head.getDouble(0)
    op => {
      val vs = (0 until sh.besPoints).map(bes(sh.n, ch, _))
      val base = vs.take(n).sum / n
      ctx.outcome.check(op, "max(dc-removed value)", got, vs.map(_ - base).max)
    }
  }

  private def sqlRead(ctx: Ctx, r: Random, sh: Shot): String => Boolean = {
    val ch = 1 + r.nextInt(Channels)
    val df = ctx.tracer.span("catalog", "GraftTableCatalog.loadTable")(ctx.spark.sql(
      s"SELECT count(*) AS n, sum(value) AS s FROM graft.bes.ch WHERE shot = ${sh.n} AND channel = $ch"))
    val row = ctx.tracer.span("exec", "collect")(df.collect()).head
    op => {
      val want = (0 until sh.besPoints).map(bes(sh.n, ch, _))
      if (row.getLong(0) != want.size) ctx.outcome.wrong(op, s"count: got ${row.getLong(0)}, expected ${want.size}")
      else ctx.outcome.check(op, "sum(value)", row.getDouble(1), want.sum)
    }
  }
}
