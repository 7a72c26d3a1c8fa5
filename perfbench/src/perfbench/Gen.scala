package perfbench

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator for the benchmark workloads.
  *
  * Every field is derived by hashing (tag, row key, seed) with `xxhash64`,
  * the approach of `graft.gen.VitalsGen`: the output is a pure function of
  * (seed, size) and does not depend on how many partitions `spark.range`
  * is split into. The writers pin the partition count (`Slices`) so the
  * file layout is also fixed, which keeps scan parallelism identical
  * across hosts and runs.
  */
object Gen {

  /** 2024-01-01T00:00:00Z, the first event-time second of every input. */
  val StartSec: Long = 1704067200L
  val DaySec: Long = 86400L
  val Slices: Int = 8

  val EventTypes: Seq[String] =
    Seq("heart_rate", "lab_result", "medication", "admission", "error")

  private def hash(tag: String, seed: Long, keys: Column*): Column =
    xxhash64((lit(tag) +: keys :+ lit(seed)): _*)

  /** Uniform integer in [0, mod). */
  private def uniform(tag: String, seed: Long, mod: Long, keys: Column*): Column =
    pmod(hash(tag, seed, keys: _*), lit(mod))

  /** Uniform double in [0, 1). */
  private def unit(tag: String, seed: Long, keys: Column*): Column =
    uniform(tag, seed, 1L << 30, keys: _*).cast("double") / (1L << 30).toDouble

  private def range(spark: SparkSession, n: Long, slices: Int): DataFrame =
    spark.range(0, n, 1, slices).toDF()

  /** Events-schema rows keyed by `event_id`; everything but the event
    * time comes from the id. `user_id` is skewed (u³ puts user 1 at ~4% of
    * events for 20k users), `props` carries the `{"k": n}` status payload
    * the monitoring views parse, with 3% unparseable statuses.
    */
  private def eventColumns(seed: Long, users: Int, ts: Column): Seq[Column] = {
    val id = col("event_id")
    Seq(
      id,
      ts.as("ts"),
      (floor(pow(unit("user", seed, id), 3.0) * users) + 1).cast("long").as("user_id"),
      element_at(array(EventTypes.map(lit): _*),
        uniform("type", seed, EventTypes.size.toLong, id).cast("int") + 1).as("event_type"),
      (uniform("value", seed, 20000L, id).cast("double") / 100.0).as("value"),
      when(uniform("bad", seed, 100L, id) < 3, lit("{\"k\": \"n/a\"}"))
        .otherwise(concat(lit("{\"k\": "),
          uniform("k", seed, 120L, id).cast("string"), lit("}"))).as("props"))
  }

  /** Event time as µs timestamp_ntz, the physical type of the current
    * events fixtures (`Tables.events` normalizes it to session time). */
  private def tsNtz(epochMicros: Column): Column =
    timestamp_micros(epochMicros).cast("timestamp_ntz")

  /** `n` distinct events with ids [idBase, idBase + n), event times uniform
    * over `days` days from [[StartSec]]. */
  def events(spark: SparkSession, seed: Long, idBase: Long, n: Long, days: Int,
             users: Int, slices: Int = Slices): DataFrame = {
    val spanUs = days * DaySec * 1000000L
    range(spark, n, slices)
      .select((col("id") + idBase).as("event_id"))
      .select(eventColumns(seed, users,
        tsNtz(lit(StartSec * 1000000L) + uniform("ts", seed, spanUs, col("event_id")))): _*)
  }

  /** The overlapping extract delivers every event twice (10-minute cadence,
    * 20-minute lookback). */
  def deliveredTwice(df: DataFrame): DataFrame = df.unionAll(df)

  /** Arrival stream after the history: tick k (1-based) carries `perTick`
    * new events arriving in [t0 + (k-1)·600, t0 + k·600) with
    * t0 = start + `historyDays`. Event time trails arrival by under a
    * minute, except a `lateShare` of events that are 1–3 days late and
    * land in history partitions. `arr` is the arrival second.
    */
  def stream(spark: SparkSession, seed: Long, idBase: Long, ticks: Int, perTick: Int,
             historyDays: Int, users: Int, lateShare: Double,
             slices: Int = Slices): DataFrame = {
    val t0 = StartSec + historyDays * DaySec
    val id = col("event_id")
    val arr = lit(t0) + floor((id - idBase) / perTick) * 600 + uniform("arr", seed, 600L, id)
    val late = unit("late", seed, id) < lateShare
    val lagUs = when(late,
      (uniform("lateday", seed, 3L, id) + 1) * DaySec * 1000000L +
        uniform("latelag", seed, DaySec * 1000000L, id))
      .otherwise(uniform("lag", seed, 60L * 1000000L, id))
    range(spark, ticks.toLong * perTick, slices)
      .select((col("id") + idBase).as("event_id"))
      .withColumn("arr", arr)
      .select(eventColumns(seed, users, tsNtz(col("arr") * 1000000L - lagUs)) :+ col("arr"): _*)
  }

  /** Delivery window of batch k: arrivals in [t_k − 20 min, t_k). */
  def batchWindow(historyDays: Int, k: Int): (Long, Long) = {
    val tk = StartSec + historyDays * DaySec + k * 600L
    (tk - 1200L, tk)
  }

  // ---- curation corpus ----

  private val Stop: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"))

  /** Token j of source document `src` (a lambda over positions). */
  private def word(seed: Long, src: Column, lang: Column, j: Column): Column = {
    def pick(words: Seq[String], tag: String) =
      element_at(array(words.map(lit): _*),
        uniform(tag, seed, words.size.toLong, src, j).cast("int") + 1)
    when(uniform("isstop", seed, 5L, src, j) === 0,
      when(lang === "de", pick(Stop("de"), "stopde")).otherwise(pick(Stop("en"), "stopen")))
      .otherwise(concat(lit("w"), uniform("word", seed, 30000L, src, j).cast("string")))
  }

  /** Seeded document corpus in the `documents` schema: `nBase` original
    * documents, then 8% exact duplicates, 8% near duplicates (about one
    * token in 40 replaced) and 5% low-quality repetitive documents, each
    * copy pointing at a hashed source document.
    */
  def corpus(spark: SparkSession, seed: Long, nBase: Long, slices: Int = Slices): DataFrame = {
    val nExact = nBase * 8 / 100
    val nNear = nBase * 8 / 100
    val nLow = nBase * 5 / 100
    val id = col("doc_id")
    val kind =
      when(id < nBase, lit("base"))
        .when(id < nBase + nExact, lit("exact"))
        .when(id < nBase + nExact + nNear, lit("near"))
        .otherwise(lit("low"))
    val src = when(id < nBase, id).otherwise(uniform("src", seed, nBase, id))
    val lang = when(uniform("lang", seed, 10L, col("src")) === 0, lit("de")).otherwise(lit("en"))
    val len = uniform("len", seed, 90L, col("src")) + 30
    val positions = sequence(lit(0L), col("len") - 1)
    val tokens = transform(positions, j =>
      when(col("kind") === "low",
        concat(lit("spam"), uniform("low", seed, 3L, id, j).cast("string")))
        .when(col("kind") === "near" && uniform("mut", seed, 40L, id, j) === 0,
          concat(lit("m"), uniform("mword", seed, 30000L, id, j).cast("string")))
        .otherwise(word(seed, col("src"), col("lang"), j)))
    range(spark, nBase + nExact + nNear + nLow, slices)
      .select(col("id").as("doc_id"))
      .withColumn("kind", kind)
      .withColumn("src", src)
      .withColumn("lang", lang)
      .withColumn("len", len)
      .withColumn("text", array_join(tokens, " "))
      .select(
        id,
        col("text"),
        col("lang"),
        element_at(array(lit("web"), lit("forum"), lit("wiki")),
          uniform("source", seed, 3L, id).cast("int") + 1).as("source"),
        length(col("text")).cast("long").as("n_chars"))
  }

  def write(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)
}
