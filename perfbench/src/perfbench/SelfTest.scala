package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tests of the benchmark's own code; run by `python3 perfbench/selftest.py`.
  * Exits non-zero when any check fails. */
object SelfTest {
  private var failures = 0

  private def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    println(s"${if (ok) "ok  " else "FAIL"} $name${if (ok) "" else s": $detail"}")
    if (!ok) failures += 1
  }

  def main(args: Array[String]): Unit = {
    intervals()
    spans()
    fileDelta()
    generator()
    println(if (failures == 0) "selftest: all passed" else s"selftest: $failures failed")
    sys.exit(if (failures == 0) 0 else 1)
  }

  def intervals(): Unit = {
    import Intervals._
    check("union merges overlapping and touching intervals",
      union(Seq(5L -> 7L, 1L -> 3L, 2L -> 4L, 7L -> 9L, 12L -> 12L)) == Seq(1L -> 4L, 5L -> 9L))
    check("subtract cuts holes and trims ends",
      subtract(Seq(0L -> 10L), Seq(2L -> 3L, 8L -> 12L, -5L -> 1L)) == Seq(1L -> 2L, 3L -> 8L))
    check("subtract of a covering interval is empty", subtract(Seq(2L -> 5L), Seq(0L -> 9L)).isEmpty)
    check("length counts the union once", length(Seq(0L -> 4L, 2L -> 6L, 10L -> 11L)) == 7L)
  }

  def spans(): Unit = {
    // parent [0, 100) ms with children [10, 30) and [50, 60); tasks run
    // [12, 20), [15, 40) and [70, 80): driver-only is [0,10) [40,50) [60,70) [80,100)
    val parent = SpanRec(1, "p", 0, 0L, 100L, 100000000L, Map("plan_s" -> 0.5))
    val kids = Seq(SpanRec(2, "c", 1, 10L, 30L, 20000000L, Map.empty),
      SpanRec(3, "c", 1, 50L, 60L, 10000000L, Map.empty))
    val tasks = Seq(TaskRec(2, 12L, 20L, 100L, 0L, 7L, 1L),
      TaskRec(2, 15L, 40L, 50L, 5L, 0L, 0L),
      TaskRec(1, 70L, 80L, 0L, 0L, 3L, 2L))
    check("driver-only time excludes children and any running task",
      SpanMath.driverOnlyMs(parent, kids, tasks) == 50L,
      SpanMath.driverOnlyMs(parent, kids, tasks).toString)
    val m = SpanMath.measures(parent +: kids, tasks, id => if (id == 2) 2 else 0)
    check("self wall time is duration minus children", math.abs(m("p")("wall_s") - 0.07) < 1e-9,
      m("p").toString)
    check("same-named spans sum", math.abs(m("c")("wall_s") - 0.03) < 1e-9 && m("c")("jobs") == 2.0,
      m("c").toString)
    check("tasks are booked to their span",
      m("c")("tasks") == 2.0 && m("c")("task_s") == 0.033 && m("c")("max_task_s") == 0.025 &&
        m("c")("shuffle_bytes") == 150.0 && m("p")("output_bytes") == 3.0, m.toString)
    check("counters ride along", m("p")("plan_s") == 0.5)
  }

  def fileDelta(): Unit = {
    import FileDelta.Stat
    // MANIFEST is rewritten in place with the same size: only its mtime moves
    val before = Map("MANIFEST" -> Stat(12L, 1000L), "a/part-0.parquet" -> Stat(100L, 900L),
      "a/.part-0.parquet.crc" -> Stat(8L, 900L), "b/part-0.parquet" -> Stat(200L, 900L))
    val after = Map("MANIFEST" -> Stat(12L, 2000L), "MANIFEST.v000002" -> Stat(12L, 2000L),
      "a/part-0.parquet" -> Stat(100L, 900L), "c/part-0.parquet" -> Stat(300L, 1900L),
      "c/.part-0.parquet.crc" -> Stat(9L, 1900L))
    val d = FileDelta.delta(before, after)
    check("new and rewritten files count as written, checksums do not",
      d.newFiles == 3 && d.newBytes == 324L, d.toString)
    check("deleted files are garbage collected bytes", d.deletedFiles == 1 && d.deletedBytes == 200L,
      d.toString)
    check("manifest files are counted", d.newManifestFiles == 2, d.toString)
    val amp = d.newBytes.toDouble / 162L
    check("write amplification is written bytes per input byte", amp == 2.0, amp.toString)
  }

  private def hash(df: DataFrame): (Long, Long) = {
    val row = df.select(xxhash64(df.columns.sorted.map(col).toIndexedSeq: _*).as("h"))
      .agg(sum(col("h").cast("decimal(38,0)")).cast("string"), count(lit(1))).first()
    (BigDecimal(row.getString(0)).toLong, row.getLong(1))
  }

  def generator(): Unit = {
    val spark = SparkSession.builder().master("local[2]").appName("perfbench-selftest")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      def same(name: String, gen: Int => DataFrame): Unit = {
        val hs = Seq(1, 3, 7).map(s => hash(gen(s)))
        check(s"$name is independent of the partition count", hs.distinct.size == 1, hs.toString)
        check(s"$name is repeatable",
          hash(gen(3)) == hs.head)
      }
      same("events", s => Gen.events(spark, 7L, 1L, 5000L, 30, 500, slices = s))
      same("stream", s => Gen.stream(spark, 7L, 5001L, 6, 200, 14, 500, 0.05, slices = s))
      same("corpus", s => Gen.corpus(spark, 7L, 300L, slices = s))
      check("another seed gives other events",
        hash(Gen.events(spark, 8L, 1L, 5000L, 30, 500)) != hash(Gen.events(spark, 7L, 1L, 5000L, 30, 500)))

      val st = Gen.stream(spark, 7L, 1L, 6, 200, 14, 500, 0.05)
      val windows = (1 to 7).map(Gen.batchWindow(14, _))
      val deliveries = windows.map { case (lo, hi) =>
        st.filter(col("arr") >= lo && col("arr") < hi).select("event_id") }.reduce(_ unionAll _)
      val perEvent = deliveries.groupBy("event_id").count()
      check("the lookback delivers every stream event exactly twice",
        perEvent.filter(col("count") =!= 2).count() == 0 && perEvent.count() == 1200)
      val tsDays = st.select(to_date(col("ts").cast("timestamp")).as("d")).distinct().count()
      check("late events reach back into history days", tsDays >= 3, tsDays.toString)

      val docs = Gen.corpus(spark, 7L, 1000L)
      val n = docs.count()
      val distinct = docs.select("text").distinct().count()
      check("the corpus injects exact duplicates", n == 1210 && distinct < n - 50,
        s"$n rows, $distinct distinct texts")
    } finally spark.stop()
  }
}
