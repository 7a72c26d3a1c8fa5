package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Dims, Monitoring, Par, Quality, Star}
import graft.pipeline.{Curation, Pipeline, Upsert}
import graft.sources.Tables
import graft.streaming.{AtomicRenameCommitter, StreamDedup, StreamStar}

/** Benchmark process: one workload, one seed, one measured window.
  *
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --cores C` writes `DIR/result.json`; `perfbench/run.py` adds the DuckDB
  * checks it lists and prints the metrics. See `perfbench/README.md`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        work: String, cores: Int)

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("work"), m.getOrElse("cores", "4").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val sessionT0 = System.nanoTime()
    val spark = session(a)
    val sessionS = (System.nanoTime() - sessionT0) / 1e9
    val result = new Result
    try run(spark, a, sessionS, result)
    catch {
      case e: Throwable =>
        result.fail(s"workload aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      result.write(s"${a.work}/result.json")
      spark.stop()
    }
  }

  def session(a: Args): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config(Tables.NanosAsLongConf, "true")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One pass of `graft.Bench`'s calibration job, a 1e8-row hash
    * aggregate. Its drift between runs shows host contention. */
  def calibrate(spark: SparkSession): Double =
    seconds(spark.range(100000000L)
      .selectExpr("sum(hash(id))", "count(distinct id % 1000)")
      .write.format("noop").mode("overwrite").save())._2

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val out = body
    (out, (System.nanoTime() - t0) / 1e9)
  }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def run(spark: SparkSession, a: Args, sessionS: Double, result: Result): Unit = {
    val work = new File(a.work).getAbsolutePath
    val w: Workload = a.workload match {
      case "snapshot" => new SnapshotWorkload(spark, work, a.seed)
      case "microbatch" => new MicrobatchWorkload(spark, work, a.seed)
      case "curation" => new CurationWorkload(spark, work, a.seed)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    result.info("nproc", Runtime.getRuntime.availableProcessors())
    result.info("cores", a.cores)
    result.info("heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)

    // set-up: session start, the median of several input generations, and
    // the first engine pass over the input. That pass is cold: it carries
    // the class loading, code generation and JIT work a fresh process pays
    val gens = (0 until Workload.SetupReps).map(rep => seconds(w.generate(rep))._2)
    val (_, firstS) = seconds(w.first())
    w.afterOp(tracing = false, traced = false).foreach(result.fail)
    result.info("session_s", sessionS)
    result.info("generate_s", gens.map(x => f"$x%.3f").mkString(" "))
    result.info("first_op_s", firstS)
    result.metric("setup_s", sessionS + median(gens) + firstS, "s")
    result.info("calibration_before_s", calibrate(spark))

    val tracer = if (a.trace) Some(new Tracer(spark)) else None
    val untraced = mutable.ArrayBuffer.empty[Double]
    val traced = mutable.ArrayBuffer.empty[Double]
    val perOp = mutable.ArrayBuffer.empty[Map[String, Double]]
    val spanLog = mutable.ArrayBuffer.empty[String]
    val gc0 = gcSeconds()
    val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
    def more = System.nanoTime() < deadline
    var i = 0
    // the loop's first operation still runs partly cold code: it is timed
    // and printed but left out of the medians, which take at least two
    // operations of each kind (traced runs alternate plain and traced)
    val minOps = 2
    while (w.hasNext && (more || untraced.size < minOps + 1 ||
        (tracer.nonEmpty && traced.size < minOps))) {
      tracer match {
        case Some(t) if i % 2 == 1 =>
          t.reset()
          val (s, extra) = w.opTraced(t)
          t.drain()
          traced += s
          perOp += flatten(SpanMath.measures(t.spanRecords, t.taskRecords, t.jobsOf)) ++
            extra ++ Map("spark.task_utilization" ->
              t.taskRecords.map(r => r.finishMs - r.launchMs).sum / 1e3 / (s * a.cores))
          spanLog ++= t.spanRecords.map(r => Result.span(i, r))
        case _ =>
          untraced += seconds(w.op())._2
      }
      result.attempt()
      w.afterOp(tracer.nonEmpty, tracer.nonEmpty && i % 2 == 1).foreach(result.fail)
      i += 1
    }
    val gcS = gcSeconds() - gc0
    result.info("op_samples", untraced.size)
    result.info("ops_total", i)
    result.info("op_s_samples", untraced.map(x => f"$x%.3f").mkString(" "))

    result.info("calibration_after_s", calibrate(spark))
    result.info("verify_s", seconds(w.verify(result))._2)

    val warm = untraced.toSeq.drop(1)
    if (tracer.isEmpty) {
      result.metric("op_s", median(warm), "s")
      result.metric("peak_rss_mb", peakRssMb(), "MB")
      result.metric("stored_bytes_per_row", w.storedBytesPerRow(), "B/row")
    } else {
      val names = perOp.flatMap(_.keys).distinct
      names.foreach(n => result.layer(n, median(perOp.toSeq.map(_.getOrElse(n, 0.0)))))
      result.layer("jvm.gc_s", gcS / math.max(1, i))
      result.layer("trace.op_s", median(traced.toSeq))
      result.layer("trace.untraced_op_s", median(warm))
      result.layer("trace.overhead_s", median(traced.toSeq) - median(warm))
      val trace = new PrintWriter(s"${a.work}/trace.json")
      trace.write(spanLog.mkString("[", ",\n", "]"))
      trace.close()
    }
  }

  def flatten(m: Map[String, Map[String, Double]]): Map[String, Double] =
    m.flatMap { case (span, ms) => ms.map { case (k, v) => s"$span.$k" -> v } }
}

/** What the JVM hands back to `run.py`. */
final class Result {
  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val layers = mutable.LinkedHashMap.empty[String, Double]
  private val infos = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]
  private val oracles = mutable.ArrayBuffer.empty[Map[String, String]]
  private var attempted = 0
  private var eventsSql = ""
  private var documentsSql = ""

  def metric(name: String, v: Double, unit: String): Unit = metrics(name) = (v, unit)
  def layer(name: String, v: Double): Unit = layers(name) = v
  def info(name: String, v: Any): Unit = infos(name) = v
  def attempt(): Unit = attempted += 1
  def fail(msg: String): Unit = failures += msg
  def events(sql: String): Unit = eventsSql = sql
  def documents(sql: String): Unit = documentsSql = sql

  /** A DuckDB comparison `run.py` makes: the oracle SQL against the
    * engine's output under `got` (a parquet directory), or against a
    * scalar `expect`. */
  def oracle(name: String, sql: String, got: String = "", expect: String = ""): Unit =
    oracles += Map("name" -> name, "sql" -> sql, "got" -> got, "expect" -> expect)

  def write(path: String): Unit = {
    import Result.{json, str}
    val body = Seq(
      "attempted" -> attempted.toString,
      "failures" -> failures.map(str).mkString("[", ",", "]"),
      "metrics" -> metrics.map { case (k, (v, u)) =>
        s"${str(k)}:{\"value\":${Result.num(v)},\"unit\":${str(u)}}" }.mkString("{", ",", "}"),
      "layers" -> json(layers.toMap),
      "info" -> infos.map { case (k, v) => s"${str(k)}:${v match {
        case d: Double => Result.num(d)
        case i: Int => i.toString
        case other => str(other.toString)
      }}" }.mkString("{", ",", "}"),
      "events_sql" -> str(eventsSql),
      "documents_sql" -> str(documentsSql),
      "oracles" -> oracles.map(o => o.map { case (k, v) => s"${str(k)}:${str(v)}" }
        .mkString("{", ",", "}")).mkString("[", ",", "]"))
    val w = new PrintWriter(path)
    w.write(body.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",\n", "}"))
    w.close()
  }
}

object Result {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else v.toString
  def json(m: Map[String, Double]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"${str(k)}:${num(v)}" }.mkString("{", ",", "}")
  def span(op: Int, r: SpanRec): String =
    s"""{"op":$op,"id":${r.id},"parent":${r.parent},"name":${str(r.name)},""" +
      s""""start_ms":${r.startMs},"end_ms":${r.endMs},"wall_s":${num(r.wallNs / 1e9)},""" +
      s""""counters":${json(r.counters)}}"""
}

/** One workload: set-up, an operation (plain, and decomposed into traced
  * calls of the same public functions), and the output checks. */
abstract class Workload(val spark: SparkSession, val work: String, val seed: Long) {
  /** Generate the input of repetition `rep`; the workload then runs on
    * the last one. */
  def generate(rep: Int): Unit
  /** The first engine pass over the input, part of set-up. */
  def first(): Unit = op()
  def hasNext: Boolean = true
  def op(): Unit
  /** The same operation with every public call in a span; returns the
    * operation's seconds and extra per-operation layer counters, both
    * without the benchmark's own bookkeeping. */
  def opTraced(t: Tracer): (Double, Map[String, Double])
  /** Bookkeeping after an operation, outside its timing; returns failures.
    * `tracing` is set in the traced run, `traced` when this operation was. */
  def afterOp(tracing: Boolean, traced: Boolean): Seq[String] = Nil
  def verify(r: Result): Unit
  def storedBytesPerRow(): Double

  protected def path(p: String): String = s"$work/$p"

  /** Order-independent content hash and row count of a frame. */
  protected def contentHash(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(col).toIndexedSeq
    val row = df.select(xxhash64(cols: _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).cast("string"), count(lit(1))).first()
    (Option(row.getString(0)).map(BigDecimal(_).toLong).getOrElse(0L), row.getLong(1))
  }
}

object Workload {
  val SetupReps = 3
}

/** Repeated full rebuilds with `Pipeline.run` over a landed events input. */
final class SnapshotWorkload(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val Events = 150000L
  val Days = 30
  val Users = 20000

  private var src = ""
  private val out = path("snapshot_out")
  private var lastStages: Seq[Pipeline.StageResult] = Nil
  private var lastHash: Option[(Long, Long)] = None

  def generate(rep: Int): Unit = {
    src = path(s"snapshot_in/$rep")
    Gen.write(Gen.deliveredTwice(Gen.events(spark, seed, 1L, Events, Days, Users)),
      Tables.path(src, "events"))
  }

  def op(): Unit = lastStages = Pipeline.run(spark, src, out)

  /** `Pipeline.run`, call by call, each public call in a span. */
  def opTraced(t: Tracer): (Double, Map[String, Double]) = Main.seconds(tracedRebuild(t)).swap

  private def tracedRebuild(t: Tracer): Map[String, Double] = {
    val rows = mutable.Map.empty[String, Long]
    def save(span: String, build: => DataFrame, name: String): DataFrame = {
      val p = s"$out/$name"
      t.span(span) {
        val df = t.plan(build)
        df.write.mode(SaveMode.Overwrite).parquet(p)
      }
      val back = spark.read.parquet(p)
      rows(name) = t.span("pipeline.Pipeline.readback")(back.count())
      back
    }
    val landed = save("sources.Tables.events", Tables.events(spark, src), "landing_events")
    val fact = save("operators.Dedup.latestEvents", Dedup.latestEvents(landed), "fact_events")
    val dimUser = save("operators.Dims.dimUser", Dims.dimUser(fact), "dim_user")
    val dimType = save("operators.Dims.dimEventType", Dims.dimEventType(fact), "dim_event_type")
    val dimDate = save("operators.Dims.dimDate", Dims.dimDate(fact), "dim_date")
    val starPath = s"$out/fact_events_star"
    t.span("operators.Star.factStar") {
      t.files(starPath) {
        t.plan(Pipeline.starFromMaterialized(spark, out)
          .repartition(col("date_key"))
          .sortWithinPartitions(col("user_key"), col("event_type_key")))
          .write.mode(SaveMode.Overwrite).partitionBy("date_key").parquet(starPath)
      }
    }
    val star = spark.read.parquet(starPath)
    t.span("pipeline.Pipeline.readback")(star.count())
    // Pipeline.run only registers the monitoring views (lazy, no job); the
    // microbatch workload runs them
    Monitoring.results(landed).createOrReplaceTempView("mon_results")
    Monitoring.lastStatus(landed).createOrReplaceTempView("mon_last_status")
    Monitoring.dailySummary(landed).createOrReplaceTempView("mon_daily_summary")
    Monitoring.sevenDaySummary(landed).createOrReplaceTempView("mon_7d_summary")
    Monitoring.errors(landed).createOrReplaceTempView("mon_errors")
    t.span("operators.Quality.referentialIntegrity") {
      val ri = Quality.referentialIntegrity(fact, dimUser, dimType, dimDate).first()
      require(ri.getLong(0) == 0 && ri.getLong(1) == 0 && ri.getLong(2) == 0)
    }
    t.span("operators.Quality.countParity") {
      require(Quality.countParity(fact, star).first().getAs[Long]("delta") == 0L)
    }
    // rows out / rows in of the keep-latest dedup, from the read-backs
    Map("operators.Dedup.latestEvents.keep_ratio" ->
      rows("fact_events").toDouble / rows("landing_events"))
  }

  private def starOut: DataFrame =
    spark.read.parquet(s"$out/fact_events_star")
      .withColumn("date_key", col("date_key").cast("long"))

  // the traced rebuild must write the same star as the plain one
  override def afterOp(tracing: Boolean, traced: Boolean): Seq[String] =
    if (!tracing) Nil
    else {
      val h = contentHash(starOut)
      val bad = lastHash.filter(_ != h).map(p =>
        s"snapshot: star hash $h differs from the previous rebuild's $p (traced=$traced)")
      lastHash = Some(h)
      bad.toSeq
    }

  def verify(r: Result): Unit = {
    r.events(s"SELECT * FROM read_parquet('${Tables.path(src, "events")}/*.parquet')")
    val counts = lastStages.map(s => s.stage -> s.rows).toMap
    if (lastStages.nonEmpty) {
      if (counts("landing_events") != 2 * Events)
        r.fail(s"snapshot: landed ${counts("landing_events")} rows, generated ${2 * Events}")
      if (counts("fact_events") != Events || counts("fact_events_star") != Events)
        r.fail(s"snapshot: fact/star rows ${counts("fact_events")}/${counts("fact_events_star")}, expected $Events")
    }
    val check = path("check/fact_star")
    starOut.write.mode(SaveMode.Overwrite).parquet(check)
    val oracle = graft.SparkEntry.oracleSql
    r.oracle("fact_star", oracle("fact_star"), check)
    Seq("dim_user", "dim_event_type", "dim_date").foreach(n =>
      r.oracle(n, oracle(n), s"$out/$n"))
  }

  def storedBytesPerRow(): Double =
    FileDelta.bytes(s"$out/fact_events_star").toDouble / Events
}

/** `microbatch`: one refresh tick per operation. The tick's 10-minute
  * batch (20-minute lookback) is merged into the star with
  * `StreamStar.upsertStarBatch(incrementalDims = true)`, then the dashboard
  * query mix reads the tables that merge just committed. */
final class MicrobatchWorkload(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val History = 30000L
  val HistoryDays = 14
  val Users = 20000
  val Ticks = 40
  val PerTick = 1000
  val LateShare = 0.02

  private var dir = ""
  private def root = s"$dir/star"
  private def paths = StreamStar.StarPaths(root)
  private var applied = 0
  private val committer = AtomicRenameCommitter

  private def hist = Tables.events(spark, s"$dir/hist")
  private def streamDir = s"$dir/stream"

  /** Batch k: what the lookback extract delivers at tick k. */
  private def batch(k: Int): DataFrame = {
    val (lo, hi) = Gen.batchWindow(HistoryDays, k)
    Tables.events(spark, streamDir)
      .filter(col("arr") >= lo && col("arr") < hi).drop("arr")
  }

  private def upsert(k: Int): Unit =
    StreamStar.upsertStarBatch(spark, batch(k), root, batchId = Some(k.toLong),
      incrementalDims = true)

  def generate(rep: Int): Unit = {
    dir = path(s"mb/$rep")
    Gen.write(Gen.events(spark, seed, 1L, History, HistoryDays, Users),
      Tables.path(s"$dir/hist", "events"))
    Gen.write(Gen.stream(spark, seed, History + 1, Ticks, PerTick, HistoryDays, Users, LateShare),
      Tables.path(streamDir, "events"))
  }

  /** Seed the history as batch 0. */
  override def first(): Unit =
    StreamStar.upsertStarBatch(spark, hist, root, batchId = Some(0L), incrementalDims = true)

  // ticks are finite: the last batch (Ticks + 1) only re-delivers
  override def hasNext: Boolean = applied < Ticks + 1

  def op(): Unit = {
    upsert(applied + 1)
    applied += 1
    dashboard(None)
  }

  // ---- dashboard query mix ----

  private def star = Upsert.readTable(spark, paths.star, committer)
  private def dimUser = Upsert.readTable(spark, paths.dimUser, committer)
  private def dimDate = Upsert.readTable(spark, paths.dimDate, committer)
  private def monInput = StreamDedup.readSnapshot(spark, paths.factSnap, committer).drop("snap_day")
  /** `date_key` of the day `d` days after the history start. */
  private def dayKey(d: Int): Long =
    java.time.LocalDate.ofEpochDay(Gen.StartSec / Gen.DaySec + d)
      .format(java.time.format.DateTimeFormatter.BASIC_ISO_DATE).toLong
  // every tick's new events fall on the day after the history
  private val lastDayKey = dayKey(HistoryDays)
  private val weekKey = dayKey(HistoryDays - 6)
  private def scan(fromKey: Long): DataFrame =
    star.filter(col("date_key") >= fromKey)
      .groupBy(col("event_type_key"))
      .agg(count(lit(1)).as("n"),
        sum(round(col("measure_value") * 100).cast("long")).as("value_cents"))

  /** Query name → (span name, frame). */
  private def queries: Seq[(String, String, () => DataFrame)] = Seq(
    ("star_daily_user", "operators.Star.dailyUserActivity",
      () => Star.dailyUserActivity(star, dimDate, dimUser)),
    ("scan_1d", "dashboard.scan_1d", () => scan(lastDayKey)),
    ("scan_7d", "dashboard.scan_7d", () => scan(weekKey)),
    ("mon_results", "operators.Monitoring.results", () => Monitoring.results(monInput)),
    ("mon_last_status", "operators.Monitoring.lastStatus", () => Monitoring.lastStatus(monInput)),
    ("mon_daily_summary", "operators.Monitoring.dailySummary", () => Monitoring.dailySummary(monInput)),
    ("mon_7d_summary", "operators.Monitoring.sevenDaySummary", () => Monitoring.sevenDaySummary(monInput)),
    ("mon_errors", "operators.Monitoring.errors", () => Monitoring.errors(monInput)))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode(SaveMode.Overwrite).save()

  /** One pass of the query mix; traced, it returns each query's scanned
    * files and bytes. */
  private def dashboard(t: Option[Tracer]): Map[String, Double] = {
    val extra = mutable.Map.empty[String, Double]
    queries.foreach { case (_, span, q) =>
      t match {
        case None => noop(q())
        case Some(tr) =>
          val scans = new ScanCounter(spark)
          tr.span(span)(noop(tr.plan(q())))
          tr.drain()
          val (files, bytes) = scans.finish()
          extra(s"$span.files_read") = files
          extra(s"$span.bytes_read") = bytes
      }
    }
    extra.toMap
  }

  // ---- traced tick: upsertStarBatch's incremental path call by call, then the mix ----

  def opTraced(t: Tracer): (Double, Map[String, Double]) = {
    val k = applied + 1
    val before = FileDelta.listing(root)
    val b = batch(k)
    val (reads, s) = Main.seconds {
      t.span("streaming.StreamStar.upsertStarBatch")(tracedBatch(t, b, k))
      applied = k
      dashboard(Some(t))
    }
    val d = FileDelta.delta(before, FileDelta.listing(root))
    val inputPath = path(s"tmp/batch_$k")
    b.write.mode(SaveMode.Overwrite).parquet(inputPath)
    val inputBytes = FileDelta.bytes(inputPath).toDouble
    val rows = spark.read.parquet(inputPath).count().toDouble
    (s, reads ++ Map("batch_write_amp" -> d.newBytes / inputBytes,
      "batch_input_bytes" -> inputBytes,
      "batch_rows" -> rows,
      "streaming.Committer.manifest_files" -> d.newManifestFiles.toDouble,
      "streaming.Committer.gc_bytes" -> d.deletedBytes.toDouble))
  }

  private def tracedBatch(t: Tracer, batch: DataFrame, k: Int): Unit = {
    val p = paths
    require(Seq(p.dimUser, p.dimEventType, p.dimDate).forall(committer.readManifest(_).nonEmpty))
    val newEvents = t.span("operators.Dedup.keepLatestAgg") {
      val factManifest = committer.readManifest(p.factSnap)
      val days = batch.select(date_format(col("ts"), "yyyyMMdd").as("d"))
        .distinct().collect().map(_.getString(0)).toSeq
      val oldPaths = days.flatMap(factManifest.get).map(rel => s"${p.factSnap}/$rel")
      val oldIds =
        if (oldPaths.nonEmpty) spark.read.parquet(oldPaths: _*).select("event_id")
        else batch.select("event_id").limit(0)
      Dedup.keepLatestAgg(batch, Seq("event_id"), Seq(col("ts")))
        .join(oldIds, Seq("event_id"), "left_anti")
    }
    val ledger = Map("batch" -> k.toString)
    def dim(span: String, table: String, merge: (DataFrame, DataFrame) => DataFrame): Unit =
      if (!Upsert.tableMeta(table, committer).get("batch").contains(k.toString))
        t.span(span) {
          val merged = t.plan(merge(Upsert.readTable(spark, table, committer), newEvents))
          t.span("pipeline.Upsert.writeTableAtomic") {
            t.files(table)(Upsert.writeTableAtomic(spark, merged, table, committer, ledger))
          }
        }
    dim("operators.Dims.mergeDimUser", p.dimUser, Dims.mergeDimUser)
    dim("operators.Dims.mergeDimEventType", p.dimEventType, Dims.mergeDimEventType)
    dim("operators.Dims.mergeDimDate", p.dimDate, Dims.mergeDimDate)

    val readDays = t.span("streaming.StreamDedup.mergeBatchIntoSnapshot") {
      t.files(p.factSnap)(
        StreamDedup.mergeBatchIntoSnapshot(spark, batch, p.factSnap, "event_id", "ts", committer))
    }
    if (readDays.nonEmpty) {
      val fact = t.span("streaming.StreamDedup.readSnapshot")(
        StreamDedup.readSnapshot(spark, p.factSnap, committer))
      val starDelta = t.span("operators.Star.factStar") {
        t.plan(Star.factStar(
          fact.filter(col("snap_day").isin(readDays: _*)).drop("snap_day"),
          Upsert.readTable(spark, p.dimUser, committer),
          Upsert.readTable(spark, p.dimEventType, committer),
          Upsert.readTable(spark, p.dimDate, committer)))
      }
      t.span("pipeline.Upsert.replacePartitionsAtomic") {
        t.files(p.star)(
          Upsert.replacePartitionsAtomic(spark, starDelta, p.star, "date_key", readDays, committer))
      }
    }
  }

  private def delivered: DataFrame =
    (1 to applied).map(batch).foldLeft(hist)(_ unionByName _)

  private def windowsSql: String =
    if (applied == 0) "FALSE"
    else (1 to applied).map(Gen.batchWindow(HistoryDays, _))
      .map { case (lo, hi) => s"(arr >= $lo AND arr < $hi)" }.mkString(" OR ")

  def verify(r: Result): Unit = {
    val cols = "event_id, ts, user_id, event_type, value, props"
    // DuckDB sees the deduplicated delivered events: the fact snapshot's content
    r.events(s"SELECT $cols FROM (SELECT *, row_number() OVER (PARTITION BY event_id " +
      "ORDER BY ts DESC, value DESC) AS rn FROM (" +
      s"SELECT $cols FROM read_parquet('$dir/hist/events.parquet/*.parquet') UNION ALL " +
      s"SELECT $cols FROM read_parquet('$streamDir/events.parquet/*.parquet') WHERE $windowsSql)) " +
      "WHERE rn = 1")
    // end state: committed star == factStar over keep-latest of all delivered events
    val fact = Dedup.latestEvents(delivered)
    val expected = Star.factStar(fact, Dims.dimUser(fact), Dims.dimEventType(fact), Dims.dimDate(fact))
    val norm = (df: DataFrame) => df.withColumn("date_key", col("date_key").cast("long"))
      .select("user_key", "event_type_key", "date_key", "event_id", "measure_value", "ts_us")
    val (e, g) = (norm(expected), norm(star))
    if (contentHash(e) != contentHash(g))
      r.fail(s"microbatch: committed star differs from the batch rebuild " +
        s"(${e.exceptAll(g).count()} rows missing, ${g.exceptAll(e).count()} rows extra " +
        s"after $applied batches)")
    // the dashboard over the final tables == the DuckDB oracles
    val oracle = graft.SparkEntry.oracleSql
    queries.foreach { case (name, _, q) =>
      val out = path(s"check/$name")
      q().write.mode(SaveMode.Overwrite).parquet(out)
      val sql = name match {
        case "scan_1d" => scanSql(lastDayKey)
        case "scan_7d" => scanSql(weekKey)
        case n => oracle(n)
      }
      r.oracle(name, sql, out)
    }
  }

  private def scanSql(fromKey: Long): String =
    s"WITH star AS (${graft.SparkEntry.oracleSql("fact_star")}) SELECT event_type_key, " +
      "count(*) AS n, CAST(sum(CAST(round(measure_value * 100) AS BIGINT)) AS BIGINT) AS value_cents " +
      s"FROM star WHERE date_key >= $fromKey GROUP BY 1"

  def storedBytesPerRow(): Double =
    FileDelta.bytes(root).toDouble /
      StreamDedup.readSnapshot(spark, paths.factSnap, committer).count()
}

/** Repeated `Curation.run` over a seeded document corpus. */
final class CurationWorkload(spark: SparkSession, work: String, seed: Long)
    extends Workload(spark, work, seed) {
  val BaseDocs = 1500L

  private var src = ""
  private val out = path("curation_out")
  private var reference: Option[(Seq[Curation.CurationResult], (Long, Long))] = None
  private var last: Seq[Curation.CurationResult] = Nil

  def generate(rep: Int): Unit = {
    src = path(s"curation_in/$rep")
    Gen.write(Gen.corpus(spark, seed, BaseDocs), Tables.path(src, "documents"))
  }

  def op(): Unit = last = Curation.run(spark, src, out)

  /** `Curation.run`, call by call. */
  def opTraced(t: Tracer): (Double, Map[String, Double]) =
    Main.seconds(tracedRun(t)).swap

  private def tracedRun(t: Tracer): Map[String, Double] = {
    val (curated, stages, staged) = t.span("pipeline.Curation.curateStaged")(
      Curation.curateStaged(Tables.documents(spark, src)))
    t.span("pipeline.Curation.write") {
      t.plan(curated).write.mode(SaveMode.Overwrite).parquet(s"$out/curated_documents")
      staged.foreach { df =>
        df.unpersist(blocking = false)
        Par.release(df)
      }
    }
    t.span("pipeline.Curation.summary") {
      Curation.summary(spark.read.parquet(s"$out/curated_documents"))
        .write.mode(SaveMode.Overwrite).parquet(s"$out/corpus_summary")
    }
    last = stages
    Map.empty
  }

  private def outputHash: (Long, Long) = {
    val (h1, n1) = contentHash(spark.read.parquet(s"$out/curated_documents"))
    val (h2, _) = contentHash(spark.read.parquet(s"$out/corpus_summary"))
    (h1 ^ h2, n1)
  }

  // every run must reproduce the first run's stages and output
  override def afterOp(tracing: Boolean, traced: Boolean): Seq[String] = reference match {
    case None =>
      reference = Some(last -> outputHash)
      Nil
    case Some((stages, hash)) =>
      val h = outputHash
      (if (last != stages) Seq(s"curation: stage counts $last differ from the first run's $stages (traced=$traced)")
       else Nil) ++
        (if (h != hash) Seq(s"curation: output hash $h differs from the first run's $hash (traced=$traced)")
         else Nil)
  }

  def verify(r: Result): Unit = {
    r.documents(s"SELECT * FROM read_parquet('${Tables.path(src, "documents")}/*.parquet')")
    val counts = last.map(s => s.stage -> s.docs).toMap
    r.oracle("input_docs", "SELECT count(*) FROM documents", expect = counts("input").toString)
    r.oracle("exact_dedup_docs", "SELECT count(DISTINCT text) FROM documents",
      expect = counts("exact_dedup").toString)
    val Seq(exact, near, quality) = Seq("exact_dedup", "near_dedup", "quality_filter").map(counts)
    if (!(near < exact && quality < near))
      r.fail(s"curation: stage counts do not shrink: $last")
  }

  def storedBytesPerRow(): Double =
    FileDelta.bytes(out).toDouble / last.last.docs
}

/** Files and bytes the parquet scans of one query read, from the
  * executed plans the query-execution listener reports. */
final class ScanCounter(spark: SparkSession)
    extends org.apache.spark.sql.util.QueryExecutionListener {
  private var files = 0.0
  private var bytes = 0.0
  spark.listenerManager.register(this)

  override def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         durationNs: Long): Unit = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    object Helper extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    Helper.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
      .foreach { s =>
        s.metrics.get("numFiles").foreach(m => files += m.value)
        s.metrics.get("filesSize").foreach(m => bytes += m.value)
      }
  }

  override def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution,
                         exception: Exception): Unit = ()

  def finish(): (Double, Double) = {
    spark.listenerManager.unregister(this)
    (files, bytes)
  }
}
