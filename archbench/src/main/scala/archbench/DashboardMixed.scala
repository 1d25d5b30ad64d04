package archbench

import java.nio.file.Path
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.core.{Engine, GenericDatasource, ServerConfig}
import graft.spec.Specs

/** Dashboard reads over months of coalesced history: a seeded mix of
  * `readSeriesWithRates`, `readSeriesDbWithRates` and a StoreCatalog
  * SQL top-K, each on a random server and window, with one
  * `tickDueFleet` after every few requests. The read path does most of
  * the work; the interleaved writes show a write-side change that costs
  * reads. Each tick archives one sample of every server's user
  * functions: the vectorized fleet snapshot, then the aggregate and
  * purge phases. The servers share one cadence phase, so a run's ticks
  * go aggregate, purge, plain, plain, plain fleet-wide. */
object DashboardMixed extends Workload {
  val name = "dashboard_mixed"
  val primary = "read"

  val Servers = 10
  /** Server ids 3, 23, ..., 183: equal mod 20, so the engine's cadence
    * phase `(coalesce_seq + srvid % 20) % 5` is the same for the whole
    * fleet, and the first timed tick (coalesce_seq 2) aggregates. */
  val Srvids: IndexedSeq[Int] = (0 until Servers).map(i => 20 * i + 3)
  val Coalesce = 5
  val Dbs = 2
  val Funcs = 4
  /** Prebuilt history: hourly samples from 2023-10-01 to 2023-12-31,
    * coalesced 100 records per history row. */
  val HistStartSec = 1696118400L
  val HistHours = 92 * 24
  val RecordsPerRow = 100
  val RequestsPerTick = 9
  /** Timed cycles (nine requests and a tick) per cadence period: a
    * period covers every phase once. */
  val CyclesPerPeriod = Coalesce
  /** `--seconds` of work one cadence period stands for. */
  val PeriodSec = 20.0
  val TopK = 5
  val Catalog = "archbench"
  val RetentionSec: Long = 365L * 86400

  val funcs = Specs.userFunctions
  val dbSpec = new GenericDatasource(funcs).dbSpec.get

  /** Rows staged by one interleaved tick. */
  val RowsPerTick: Long = Servers.toLong * Dbs * Funcs

  def histTs(h: Int): Timestamp =
    new Timestamp((HistStartSec + h * 3600L) * 1000L)

  /** Prebuilt per-key history rows with chunk index in [c0, c1): the
    * coalesced form of hourly `calls = (hour + 1) * inc` samples. */
  def historyRows(ctx: Ctx, c0: Int, c1: Int): DataFrame = {
    val keys = Dbs * Funcs
    val rec = (h: org.apache.spark.sql.Column, calls: org.apache.spark.sql.Column) =>
      struct(timestamp_seconds(lit(HistStartSec) + h * 3600L).as("ts"),
        calls.as("calls"), (calls * 2.5d).as("total_time"),
        calls.cast("double").as("self_time"))
    chunks(ctx, c0, c1, keys)
      .withColumn("dbid", floor(col("k") / Funcs) + 1)
      .withColumn("funcid", col("k") % Funcs + 1)
      .withColumn("inc", TickModel.incCol(ctx.seed, col("srvid"),
        col("dbid") * Funcs + col("funcid")))
      .withColumn("records", transform(col("hours"),
        h => rec(h, (h + 1L) * col("inc"))))
      .select(historyCols(funcs.keyNames): _*)
  }

  /** The per-db rollup of the same samples (sum over functions). */
  def historyDbRows(ctx: Ctx, c0: Int, c1: Int): DataFrame = {
    val incSum = (1 to Funcs).map(f => TickModel.incCol(ctx.seed,
      col("srvid"), col("dbid") * Funcs + f)).reduce(_ + _)
    chunks(ctx, c0, c1, Dbs)
      .withColumn("dbid", col("k") + 1)
      .withColumn("inc", incSum)
      .withColumn("records", transform(col("hours"), h =>
        struct(timestamp_seconds(lit(HistStartSec) + h * 3600L).as("ts"),
          ((h + 1L) * col("inc")).as("calls"),
          ((h + 1L) * col("inc") * 2.5d).as("total_time"),
          ((h + 1L) * col("inc")).cast("double").as("self_time"))))
      .select(historyCols(dbSpec.keyNames): _*)
  }

  private def chunks(ctx: Ctx, c0: Int, c1: Int, keys: Int): DataFrame = {
    val n = (c1 - c0).toLong * Servers * keys
    val perServer = (c1 - c0).toLong * keys
    ctx.spark.range(n).select(
      (floor(col("id") / perServer) * 20 + 3).cast("int").as("srvid"),
      (col("id") % keys).as("k"),
      (floor(col("id") % perServer / keys) + c0).cast("int").as("c"))
      .withColumn("hours", sequence(col("c") * RecordsPerRow,
        least(col("c") * RecordsPerRow + (RecordsPerRow - 1), lit(HistHours - 1))))
  }

  /** History row shape: srvid, keys, range, records, min/max records
    * (counters are cumulative, so the first and last records). */
  private def historyCols(keys: Seq[String]) =
    (Seq("srvid") ++ keys).map(col) ++ Seq(
      col("records")(0).getField("ts").as("range_start"),
      element_at(col("records"), -1).getField("ts").as("range_end"),
      col("records"),
      col("records")(0).as("mins_in_range"),
      element_at(col("records"), -1).as("maxs_in_range"))

  val Chunks: Int = (HistHours + RecordsPerRow - 1) / RecordsPerRow

  /** The request stream: (kind, srvid, first hour, hours). Every block
    * of nine is a shuffle of the three request kinds by three window
    * lengths (a day, a week, a month) on random servers and start hours,
    * so each tick cycle serves the same mix. */
  def requests(seed: Long, n: Int): IndexedSeq[(String, Int, Int, Int)] = {
    val rnd = new scala.util.Random(seed)
    val combos = for (k <- Seq("series", "db", "sql"); l <- Seq(24, 168, 720))
      yield (k, l)
    Iterator.continually(rnd.shuffle(combos)).flatten.take(n).map {
      case (kind, len) =>
        (kind, Srvids(rnd.nextInt(Servers)), rnd.nextInt(HistHours - len), len)
    }.toIndexedSeq
  }

  /** Staged rows of one interleaved tick t (January 2024, after the
    * prebuilt span): one hourly sample per key per server. */
  def tickRows(ctx: Ctx, t: Int): DataFrame = {
    val per = Dbs * Funcs
    val calls = TickModel.incCol(ctx.seed, col("srvid"),
      col("dbid") * Funcs + col("funcid")) * (HistHours + t + 1L)
    ctx.spark.range(Servers.toLong * per)
      .select((floor(col("id") / per) * 20 + 3).cast("int").as("srvid"),
        lit(TickModel.tickTs(t)).as("ts"),
        (floor(col("id") % per / Funcs) + 1).as("dbid"),
        (col("id") % Funcs + 1).as("funcid"))
      .select(col("srvid"), col("ts"), col("dbid"), col("funcid"),
        calls.as("calls"), (calls * 2.5d).as("total_time"),
        calls.cast("double").as("self_time"))
  }

  def inputChecksums(ctx: Ctx): Seq[(String, String)] = Seq(
    "history" -> Checksum.frame(historyRows(ctx, 0, Chunks)),
    "history_db" -> Checksum.frame(historyDbRows(ctx, 0, Chunks)),
    "tick_t0" -> Checksum.frame(tickRows(ctx, 0)),
    "requests" -> Checksum.string(requests(ctx.seed, 1000).mkString(";")))

  def prepare(ctx: Ctx, root: Path): Run = {
    val engine = new Engine(ctx.spark, root.toString)
    engine.registry.registerServers(Srvids.map(i =>
      ServerConfig(id = i, hostname = s"dash$i",
        frequencySec = TickModel.TickSec.toInt, powaCoalesce = Coalesce,
        retentionSec = RetentionSec)))
    // one history write per tier; rows come grouped by server, so each
    // write task lands few files per (server, month bucket)
    engine.store.appendBucketed(funcs.name, GenericDatasource.History,
      historyRows(ctx, 0, Chunks))
    engine.store.appendBucketed(funcs.name, GenericDatasource.HistoryDb,
      historyDbRows(ctx, 0, Chunks))
    ctx.spark.conf.set(s"spark.sql.catalog.$Catalog",
      classOf[graft.sources.v2.StoreCatalog].getName)
    ctx.spark.conf.set(s"spark.sql.catalog.$Catalog.root", root.toString)
    new DashboardRun(ctx, root, engine)
  }

  final class DashboardRun(ctx: Ctx, root: Path, engine: Engine)
      extends Run {
    private val reqs = requests(ctx.seed, 100000)
    /** Warm-up requests: one block from a stream of their own. */
    private val warm = requests(ctx.seed + 0x5eedL, RequestsPerTick)
    private var served = 0
    private var ticks = 0
    private var mismatches = Vector.empty[String]
    private var checked = 0

    private def sqlTs(t: Timestamp): String =
      "TIMESTAMP '" + java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)
        .format(t.toInstant) + "'"

    private def sql(srvid: Int, from: Timestamp, to: Timestamp): DataFrame =
      ctx.spark.sql(
        s"""SELECT dbid, funcid, sum(r.calls) AS calls
           |FROM $Catalog.${funcs.name}.history
           |LATERAL VIEW explode(records) e AS r
           |WHERE srvid = $srvid
           |  AND range_end >= ${sqlTs(from)} AND range_start <= ${sqlTs(to)}
           |  AND r.ts BETWEEN ${sqlTs(from)} AND ${sqlTs(to)}
           |GROUP BY dbid, funcid
           |ORDER BY calls DESC, dbid, funcid LIMIT $TopK""".stripMargin)

    /** One request; returns (rows, expected rows, frame run). */
    private def request(r: (String, Int, Int, Int)): (Array[Row], Long, DataFrame) = {
      val (kind, srvid, h0, len) = r
      val from = histTs(h0); val to = histTs(h0 + len)
      val samples = len + 1L // inclusive bounds, one sample per hour
      kind match {
        case "series" => ctx.span("read.series") {
          val df = engine.readSeriesWithRates(funcs.name, srvid, from, to)
          (df.collect(), samples * Dbs * Funcs, df)
        }
        case "db" => ctx.span("read.db") {
          val df = engine.readSeriesDbWithRates(funcs.name, srvid, from, to)
          (df.collect(), samples * Dbs, df)
        }
        case _ => ctx.span("read.sql") {
          val df = sql(srvid, from, to)
          (df.collect(), math.min(TopK, Dbs * Funcs).toLong, df)
        }
      }
    }

    private def tick(): Int = {
      val t = ticks
      ctx.span("engine.ingest") { engine.ingest(funcs.name, tickRows(ctx, t)) }
      val errs = ctx.span("engine.tick") {
        engine.tickDueFleet(TickModel.tickNow(t))
      }
      ticks += 1
      errs.values.sum
    }

    def warmup(): Unit = {
      warm.foreach(request)
      if (tick() > 0) throw new IllegalStateException("warm-up tick failed")
    }

    private val opsPerCycle = RequestsPerTick + 1

    /** Whole cadence periods, one per [[PeriodSec]] of `seconds`. */
    def timedOps(seconds: Double): Int =
      opsPerCycle * CyclesPerPeriod * math.max(1, math.round(seconds / PeriodSec).toInt)

    def op(i: Int): Op =
      if (i % opsPerCycle == RequestsPerTick) {
        val t = ticks
        val before: Set[Path] =
          if (ctx.trace) Fs.files(root).toSet else Set.empty
        val op = ctx.timedOp(i) {
          Op("tick", RowsPerTick, tick(),
            TickModel.phaseOf(t + 1L, Srvids(0), Coalesce))
        }
        if (ctx.trace) op.extra = Map("files_written" ->
          Fs.files(root).count(f => !before.contains(f)).toDouble)
        op
      } else {
        val r = reqs(served); served += 1
        var res: (Array[Row], Long, DataFrame) = null
        val op = ctx.timedOp(i) {
          res = request(r)
          Op("read", 1, 0)
        }
        val (rows, want, df) = res
        checked += 1
        if (rows.length != want)
          mismatches :+= s"request $r returned ${rows.length} rows, want $want"
        if (ctx.trace) {
          val (files, scanned) = Scans.of(df.queryExecution.executedPlan)
          op.extra = Map("scan_files" -> files, "scan_rows" -> scanned,
            "rows_returned" -> rows.length.toDouble)
        }
        op
      }

    def checksAttempted: Int = checked + 2

    def check(): Seq[String] = {
      // the prebuilt history is intact: total calls of the first server
      // over the whole prebuilt span equal the closed form
      val s0 = Srvids(0)
      val got = engine.readSeriesWithRates(funcs.name, s0, histTs(0),
        histTs(HistHours - 1)).agg(sum("record.calls")).head().getLong(0)
      val want = (for (d <- 1 to Dbs; f <- 1 to Funcs) yield
        TickModel.inc(ctx.seed, s0, d * Funcs + f) *
          (1L to HistHours).sum).sum
      // every tick's samples are archived: calls per key over January
      // (retention is a year, so nothing is purged)
      val gotTicks = engine.readSeriesWithRates(funcs.name, s0,
          TickModel.tickTs(0), TickModel.tickNow(ticks))
        .groupBy("dbid", "funcid").agg(sum("record.calls"))
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      val wantTicks = (for (d <- 1L to Dbs; f <- 1L to Funcs) yield
        (d, f) -> TickModel.inc(ctx.seed, s0, d * Funcs + f) *
          (0 until ticks).map(t => HistHours + t + 1L).sum).toMap
      mismatches ++
        (if (got == want) None else Some(s"server $s0 total calls $got, want $want")) ++
        Checks.sameMap(s"ticked calls of server $s0", gotTicks, wantTicks)
    }

    def bytesPerRow(): Double =
      Fs.bytes(root).toDouble /
        (Servers.toLong * Dbs * Funcs * HistHours + RowsPerTick * ticks)

    override def layerTotals(): Map[String, Double] =
      Map("store.history_files" -> Checks.historyFiles(engine,
        Seq(funcs.name), Srvids))
  }
}
