package perfbench

import java.net.{HttpURLConnection, URL}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.{LocalDateTime, ZoneOffset}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.functions.ResultCache
import graft.operators.{Ingest, Sinks, WindowAgg}
import graft.serving.ApiServer
import graft.streaming.StreamingPipeline

/** The reference topology in one JVM: generator → `Ingest.decode` →
  * `StreamingPipeline.aggregates` / `aggregateWriter` and `rawWriter` →
  * `Sinks.appendParquet`, with an `ApiServer` re-reading both sinks while
  * an HTTP client queries it.
  *
  * Replay phase: a backlog preloaded before the queries start is drained,
  * as a restart from the earliest offsets does. Live phase: one generator
  * thread adds events on a fixed schedule (open loop) while the client
  * sends a seeded mix of the reference endpoints (closed loop).
  *
  * Each streaming query reads its own `MemoryStream` carrying the same
  * records: one stream feeding both queries fails with "Offsets committed
  * out of order". */
object Pipeline {
  val WindowSec = 2
  val DelaySec = 2
  val BacklogEvents = 100000
  val BacklogSpanMs = 20000L
  val WarmEvents = 5000
  val WarmLiveMs = 1000L
  val LiveRate = 5000
  val TickMs = 10L
  val LateShare = 0.01
  val LateAgeMs = 60000L
  /** One closed-loop HTTP client: with two, the spread of ingest latency
    * between runs of the same code doubled (a second stream of serving
    * jobs queued in front of the micro-batches). */
  val Clients = 1
  /** Threads that send the warm-up requests, each kind once. */
  val WarmThreads = 4
  /** Registry queries served at `/api/query/<name>`, over the sf0.01 corpus. */
  val ServedQueries = Seq("windowed_agg", "q1_pricing")

  val DeviceTypes = Seq("temperature", "humidity", "pressure", "motion", "light")
  val Locations = Seq("room1", "room2", "kitchen", "living_room", "bathroom", "outdoor")

  val rawSchema: StructType = StructType(Seq(
    StructField("device_id", StringType), StructField("device_type", StringType),
    StructField("location", StringType), StructField("value", DoubleType),
    StructField("battery_level", DoubleType), StructField("timestamp", TimestampType)))

  val aggSchema: StructType = StructType(Seq(
    StructField("window_start", TimestampType), StructField("window_end", TimestampType),
    StructField("device_type", StringType), StructField("location", StringType),
    StructField("avg_value", DoubleType), StructField("min_value", DoubleType),
    StructField("max_value", DoubleType), StructField("avg_battery", DoubleType),
    StructField("reading_count", LongType)))

  /** One generated reading, with the fields of the reference generator. */
  final case class Reading(device: Int, deviceType: Int, location: Int,
      value: Double, battery: Double, tsMicros: Long) {
    def json: String =
      s"""{"device_id": "sensor_$device", "device_type": "${DeviceTypes(deviceType)}", """ +
        s""""location": "${Locations(location)}", "value": $value, """ +
        s""""battery_level": $battery, "timestamp": "${iso(tsMicros)}"}"""
  }

  def iso(us: Long): String = LocalDateTime.ofEpochSecond(
    Math.floorDiv(us, 1000000L), (Math.floorMod(us, 1000000L) * 1000).toInt,
    ZoneOffset.UTC).toString

  /** Seeded reading source; event times are unique to the microsecond so
    * that every event can be found in the raw sink exactly once. */
  final class Generator(seed: Long) {
    private val rng = new scala.util.Random(seed)
    private val seen = mutable.HashSet.empty[Long]
    val readings = mutable.ArrayBuffer.empty[Reading]
    val late = mutable.HashSet.empty[Long]
    private def r2(x: Double) = math.round(x * 100) / 100.0
    def next(eventMs: Double, isLate: Boolean): Reading = {
      var us = (eventMs * 1000).toLong
      while (!seen.add(us)) us += 1
      if (isLate) late += us
      val r = Reading(1 + rng.nextInt(100), rng.nextInt(DeviceTypes.size),
        rng.nextInt(Locations.size), r2(rng.nextDouble() * 100),
        r2(rng.nextDouble() * 100), us)
      readings += r
      r
    }
    def chooseLate(): Boolean = rng.nextDouble() < LateShare
  }

  /** The two input streams, each read in `partitions` splits like a topic
    * with that many partitions (a `MemoryStream` otherwise makes one split
    * per `addData` call). */
  final class Streams(spark: SparkSession, partitions: Int) {
    private implicit val sqlc: org.apache.spark.sql.SQLContext = spark.sqlContext
    private implicit val enc: org.apache.spark.sql.Encoder[Array[Byte]] = Encoders.BINARY
    val agg = MemoryStream[Array[Byte]](partitions)
    val raw = MemoryStream[Array[Byte]](partitions)
    /** Adds one batch of payloads to both streams; returns its offset. */
    def add(payloads: Seq[Array[Byte]]): Long = {
      val o = agg.addData(payloads).json.toLong
      val o2 = raw.addData(payloads).json.toLong
      require(o == o2, s"stream offsets diverged: $o vs $o2")
      o
    }
  }

  /** Timed sink: records when each `appendParquet` returns and which new
    * files it wrote, so latencies need no extra Spark action. */
  final class TimedSink(trace: Trace, name: String, dir: String) {
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    private def files: Set[String] = Option(new java.io.File(dir).listFiles())
      .map(_.map(_.getName).filter(_.endsWith(".parquet")).toSet).getOrElse(Set.empty)
    def apply(df: DataFrame, batchId: Long): Unit = {
      val before = files
      val (_, ms) = trace.span(0, "sink.write", Map("query" -> name, "batch_id" -> batchId)) { _ =>
        Sinks.appendParquet(df, dir)
      }
      val end = trace.nowMs()
      writes.add(Map("batch_id" -> batchId, "end_ms" -> end, "ms" -> ms,
        "files" -> (files -- before).toSeq.sorted))
    }
  }

  def run(spark: SparkSession, trace: Trace, args: Args, baseDir: String): Map[String, Any] = {
    val work = args.work
    val rawDir = s"$work/sink_raw"
    val aggDir = s"$work/sink_agg"
    Seq(rawDir, aggDir).foreach(d => new java.io.File(d).mkdirs())
    val failures = mutable.ArrayBuffer.empty[String]

    // Set-up, three times: generate the backlog and preload both streams.
    var gen: Generator = null
    var streams: Streams = null
    var backlogOffset = -1L
    val setupReps = (1 to 3).map { rep =>
      trace.span(0, "setup", Map("rep" -> rep)) { _ =>
        gen = new Generator(args.seed)
        streams = new Streams(spark, spark.sparkContext.defaultParallelism)
        val t0 = System.currentTimeMillis().toDouble
        val payloads = (0 until BacklogEvents).map { i =>
          gen.next(t0 - BacklogSpanMs + i * BacklogSpanMs.toDouble / BacklogEvents, isLate = false)
            .json.getBytes(UTF_8)
        }
        backlogOffset = streams.add(payloads)
      }._2
    }
    val cache = new ResultCache()
    val server = new ApiServer(
      () => spark.read.schema(rawSchema).parquet(rawDir),
      () => spark.read.schema(aggSchema).parquet(aggDir),
      cache = cache,
      registry = Some(ApiServer.QueryRegistry(spark, baseDir,
        SparkEntry.queries.filter { case (n, _) => ServedQueries.contains(n) }))).start()
    val base = s"http://127.0.0.1:${server.boundPort}"
    val window = s"$WindowSec seconds"
    val delay = s"$DelaySec seconds"
    def start(streams: Streams, name: String, aggSink: TimedSink,
        rawSink: TimedSink): Seq[StreamingQuery] = Seq(
      StreamingPipeline.aggregateWriter(
        StreamingPipeline.aggregates(Ingest.decode(streams.agg.toDF()), window, delay),
        s"$work/ckpt_${name}agg", aggSink.apply).queryName(s"${name}agg").start(),
      StreamingPipeline.rawWriter(Ingest.decode(streams.raw.toDF()),
        s"$work/ckpt_${name}raw", rawSink.apply).queryName(s"${name}raw").start())
    def awaitCommitted(queries: Seq[StreamingQuery], offset: Long): Unit =
      while (!queries.forall(q => Option(q.lastProgress).exists(p => p.sources.headOption
          .flatMap(s => Option(s.endOffset)).exists(o => o.toLong >= offset)))) {
        queries.foreach(q => q.exception.foreach(e => throw e))
        Thread.sleep(2)
      }

    // Untimed: the same pipeline drains a small backlog into throwaway
    // sinks, and the server answers one request of each kind, so replay
    // and live phase measure warm plans.
    val (_, warmMs) = trace.span(0, "warm") { _ =>
      val warmers = (0 until WarmThreads).map(c => new Thread(() => {
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        Kinds.indices.filter(_ % WarmThreads == c)
          .foreach(k => get(base + request(k, new scala.util.Random(k))._2, mapper))
      }))
      warmers.foreach(_.start())
      val warmStreams = new Streams(spark, spark.sparkContext.defaultParallelism)
      val warmGen = new Generator(args.seed + 1)
      val t0 = System.currentTimeMillis() - BacklogSpanMs
      val offset = warmStreams.add((0 until WarmEvents).map(i =>
        warmGen.next(t0 + i * 0.2, isLate = false).json.getBytes(UTF_8)))
      val warmQueries = start(warmStreams, "warm_",
        new TimedSink(trace, "warm_agg", s"$work/warm_agg"),
        new TimedSink(trace, "warm_raw", s"$work/warm_raw"))
      awaitCommitted(warmQueries, offset)
      var last = offset
      val liveUntil = System.currentTimeMillis() + WarmLiveMs
      while (System.currentTimeMillis() < liveUntil) {
        val now = System.currentTimeMillis().toDouble
        last = warmStreams.add((0 until LiveRate / 100).map(i =>
          warmGen.next(now + i * 0.2, isLate = false).json.getBytes(UTF_8)))
        Thread.sleep(TickMs)
      }
      awaitCommitted(warmQueries, last)
      warmQueries.foreach(_.stop())
      warmers.foreach(_.join())
    }

    // Replay phase.
    val aggSink = new TimedSink(trace, "agg", aggDir)
    val rawSink = new TimedSink(trace, "raw", rawDir)
    val replayStart = trace.nowMs()
    val queries = start(streams, "", aggSink, rawSink)
    val Seq(aggQ, rawQ) = queries
    awaitCommitted(queries, backlogOffset)
    val replayMs = trace.nowMs() - replayStart

    // Live phase: open-loop generator plus closed-loop HTTP client.
    val liveMs = args.seconds * 1000.0
    val liveStart = trace.nowMs()
    val stop = new AtomicBoolean(false)
    val ticks = mutable.ArrayBuffer.empty[(Long, Double, Int)]   // offset, sent ms, events
    val dues = mutable.ArrayBuffer.empty[Double]
    val generator = new Thread(() => {
      val period = 1000.0 / LiveRate
      var i = 0L
      while (trace.nowMs() < liveStart + liveMs) {
        val now = trace.nowMs()
        val batch = mutable.ArrayBuffer.empty[Array[Byte]]
        // Spark drops a late row only once the previous batch has a
        // watermark, so late events start after the first live batch.
        val lateAllowed = Option(aggQ.lastProgress).exists(_.batchId >= 1)
        while (liveStart + i * period <= now) {
          val due = liveStart + i * period
          val isLate = gen.chooseLate() && lateAllowed
          batch += gen.next(if (isLate) due - LateAgeMs else due, isLate).json.getBytes(UTF_8)
          dues += due
          i += 1
        }
        if (batch.nonEmpty) {
          val offset = streams.add(batch.toSeq)
          ticks += ((offset, trace.nowMs(), batch.size))
        }
        Thread.sleep(TickMs)
      }
    }, "perfbench-generator")
    val requests = new java.util.concurrent.ConcurrentLinkedQueue[Map[String, Any]]()
    val cacheHits = new AtomicLong(0)
    val cachedCalls = new AtomicLong(0)
    val clients = (0 until Clients).map { c =>
      new Thread(() => {
        val rng = new scala.util.Random(args.seed * 31 + c)
        val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        var cycle = Seq.empty[Int]
        var cycles = 0
        // At least one full cycle, so every kind of the mix has a latency.
        while (!stop.get() || cycles == 0) {
          if (cycle.isEmpty) cycle = rng.shuffle(Kinds.indices.toList)
          val (kind, path, cacheKey) = request(cycle.head, rng)
          cycle = cycle.tail
          if (cycle.isEmpty) cycles += 1
          if (cacheKey != null) {
            cachedCalls.incrementAndGet()
            if (cache.contains(cacheKey)) cacheHits.incrementAndGet()
          }
          val ((status, ok), ms) = trace.span(0, "http.request", Map("endpoint" -> kind)) { _ =>
            get(base + path, mapper)
          }
          requests.add(Map("endpoint" -> kind, "status" -> status, "ok" -> ok,
            "ms" -> ms, "end_ms" -> trace.nowMs()))
        }
      }, s"perfbench-client-$c")
    }
    generator.start()
    clients.foreach(_.start())
    generator.join()
    stop.set(true)
    clients.foreach(_.join())
    val liveEnd = trace.nowMs()

    // Drain, let the final no-data batch emit the closed windows, stop.
    val drainStart = trace.nowMs()
    queries.foreach(_.processAllAvailable())
    waitIdle(aggQ)
    queries.foreach(_.stop())
    server.stop()
    trace.drain()

    val checkStart = trace.nowMs()
    val (checks, checkFailures) = trace.span(0, "check")(_ =>
      check(spark, gen, aggDir, rawDir, aggQ))._1
    val checkMs = trace.nowMs() - checkStart
    failures ++= checkFailures
    requests.forEach { r =>
      if (r("ok") != true) failures += s"HTTP ${r("endpoint")} -> ${r("status")}"
    }
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val progress = mutable.ArrayBuffer.empty[com.fasterxml.jackson.databind.JsonNode]
    trace.progress.forEach(p => progress += mapper.readTree(p.json))
    Map(
      "setup_reps_ms" -> setupReps,
      "warm_ms" -> warmMs,
      "backlog_events" -> BacklogEvents,
      "clients" -> Clients,
      "mix" -> Kinds.indices.map(k => request(k, new scala.util.Random(k))._1),
      "backlog_offset" -> backlogOffset,
      "replay_ms" -> replayMs,
      "live_start_ms" -> liveStart,
      "live_end_ms" -> liveEnd,
      "drain_ms" -> (checkStart - drainStart),
      "check_ms" -> checkMs,
      "window_ms" -> WindowSec * 1000,
      "delay_ms" -> DelaySec * 1000,
      "query_ids" -> Map("agg" -> aggQ.id.toString, "raw" -> rawQ.id.toString),
      "ticks" -> ticks.map { case (o, s, n) => Seq(o, s, n) },
      "dues" -> dues.toArray,
      "sinks" -> Map("agg" -> aggSink.writes.toArray.toSeq, "raw" -> rawSink.writes.toArray.toSeq),
      "requests" -> requests.toArray.toSeq,
      "cache" -> Map("calls" -> cachedCalls.get, "hits" -> cacheHits.get),
      "progress" -> progress,
      "checks" -> checks,
      "attempted" -> (gen.readings.size + requests.size + checks("windows_expected").asInstanceOf[Long]),
      "failures" -> failures)
  }

  val Kinds = Seq("health", "sensors", "latest_filtered", "latest_all", "aggregates",
    "stats", "query", "query")

  /** Request `kind` of the mix. Each client sends the kinds in seeded
    * cycles that hold every kind once, so every run sends the same mix. */
  private def request(kind: Int, rng: scala.util.Random): (String, String, String) = kind match {
    case 0 => ("health", "/health", null)
    case 1 => ("sensors", "/api/sensors", null)
    case 2 =>
      val t = DeviceTypes(rng.nextInt(2))
      val l = Locations(rng.nextInt(3))
      ("latest_filtered", s"/api/data/latest?device_type=$t&location=$l", s"latest:$t:$l")
    case 3 => ("latest_all", "/api/data/latest", null)
    case 4 => ("aggregates", "/api/aggregates", null)
    case 5 => ("stats", "/api/stats", null)
    case 6 => ("query", s"/api/query/${ServedQueries(0)}?limit=100", null)
    case _ => ("query", s"/api/query/${ServedQueries(1)}?limit=100", null)
  }

  /** GET `url`; ok when the status is 200 and the body parses as JSON. */
  private def get(url: String, mapper: com.fasterxml.jackson.databind.ObjectMapper): (Int, Boolean) = {
    val c = new URL(url).openConnection().asInstanceOf[HttpURLConnection]
    try {
      val status = c.getResponseCode
      val in = if (status < 400) c.getInputStream else c.getErrorStream
      val body = if (in == null) "" else try new String(in.readAllBytes(), UTF_8) finally in.close()
      val parses = try { mapper.readTree(body) != null } catch { case _: Exception => false }
      (status, status == 200 && parses)
    } catch { case _: Exception => (-1, false) }
    finally c.disconnect()
  }

  /** Waits until the query has no trigger running and no new progress. */
  private def waitIdle(q: StreamingQuery): Unit = {
    var last = -2L
    var stable = 0
    val deadline = System.currentTimeMillis() + 15000
    while (stable < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      val id = Option(q.lastProgress).map(_.batchId).getOrElse(-1L)
      if (id == last && !q.status.isTriggerActive) stable += 1 else stable = 0
      last = id
    }
  }

  /** The raw sink holds every generated event exactly once, and every
    * closed window in the aggregate sink equals `WindowAgg.sensorAggregates`
    * recomputed in batch over the on-time raw rows, so no late event reached
    * an aggregate (it would add a window or change a count). */
  private def check(spark: SparkSession, gen: Generator, aggDir: String, rawDir: String,
      aggQ: StreamingQuery): (Map[String, Any], Seq[String]) = {
    import spark.implicits._
    val failures = mutable.ArrayBuffer.empty[String]
    val expected = spark.sparkContext.parallelize(gen.readings.toSeq.map(r =>
        (s"sensor_${r.device}", DeviceTypes(r.deviceType), Locations(r.location), r.value,
          r.battery, r.tsMicros)), spark.sparkContext.defaultParallelism)
      .toDF("device_id", "device_type", "location", "value", "battery_level", "us")
      .select(col("device_id"), col("device_type"), col("location"), col("value"),
        col("battery_level"), timestamp_micros(col("us")).as("timestamp"))
    val raw = spark.read.schema(rawSchema).parquet(rawDir)
    val (rawRows, rawDigest) = Batch.digest(raw)
    val (lost, extra) =
      if (rawDigest == Batch.digest(expected)._2) (0L, 0L)
      else (expected.exceptAll(raw).count(), raw.exceptAll(expected).count())
    if (lost > 0) failures += s"$lost generated events missing from the raw sink"
    if (extra > 0) failures += s"$extra raw sink rows duplicated or not generated"

    val lateTs = gen.late.map(us => timestamp_micros(lit(us)))
    val onTime = if (lateTs.isEmpty) raw else raw.filter(!col("timestamp").isin(lateTs.toSeq: _*))
    val watermarkMs = Option(aggQ.lastProgress).flatMap(p =>
      Option(p.eventTime.get("watermark"))).map(s => java.time.Instant.parse(s).toEpochMilli)
      .getOrElse(0L)
    type Key = (Long, Long, String, String)
    def key(r: org.apache.spark.sql.Row): Key =
      (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime, r.getString(2), r.getString(3))
    val want = WindowAgg.sensorAggregates(onTime, s"$WindowSec seconds", None)
      .filter(col("window_end") <= timestamp_millis(lit(watermarkMs)))
      .collect().map(r => key(r) -> r).toMap
    val sinkRows = spark.read.schema(aggSchema).parquet(aggDir)
      .withColumn("file", input_file_name()).collect()
    val got = sinkRows.groupBy(key)
    val dup = got.values.count(_.length > 1).toLong
    if (dup > 0) failures += s"$dup windows emitted twice"
    def close(a: Double, b: Double) = math.abs(a - b) <= math.max(1.0, math.abs(a)) * 1e-9
    def same(e: org.apache.spark.sql.Row, s: org.apache.spark.sql.Row) =
      e.getLong(8) == s.getLong(8) && e.getDouble(5) == s.getDouble(5) &&
        e.getDouble(6) == s.getDouble(6) && close(e.getDouble(4), s.getDouble(4)) &&
        close(e.getDouble(7), s.getDouble(7))
    val mismatched = (want.keySet ++ got.keySet).count(k =>
      !(want.contains(k) && got.contains(k) && same(want(k), got(k).head))).toLong
    if (mismatched > 0) failures += s"$mismatched aggregate windows differ from the batch recomputation"
    val landed = sinkRows.map(r => (r.getTimestamp(0).getTime, r.getTimestamp(1).getTime,
      new java.io.File(new java.net.URI(r.getString(9)).getPath).getName)).distinct
      .map { case (a, b, f) => Seq(a, b, f) }.toSeq
    (Map("generated" -> gen.readings.size.toLong, "late" -> gen.late.size.toLong,
      "raw_rows" -> rawRows, "lost" -> lost, "extra" -> extra,
      "windows_expected" -> want.size.toLong, "windows_sink" -> sinkRows.length.toLong,
      "windows_mismatched" -> mismatched, "windows_dup" -> dup,
      "watermark_ms" -> watermarkMs,
      "window_files" -> landed), failures.toSeq)
  }
}
