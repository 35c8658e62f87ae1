package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.sources.{GraftProtoDataSource, ProtoSerde}
import graft.streaming.{Event, EventStreams, UserTotal}

/** Event content replayed from the `events` fixture table (FIXTURES.md):
  * user_id, event_type, value and props, in event_id order. The fixture's
  * user cardinality and skew are what size the twins' keyed state. */
final case class Pool(user: Array[Long], kind: Array[String], value: Array[Double],
                      props: Array[String]) {
  def size: Int = user.length
}

object Pool {
  def load(spark: SparkSession, path: String): Pool = {
    val rows = spark.read.parquet(path).orderBy("event_id")
      .select("user_id", "event_type", "value", "props").collect()
    Pool(rows.map(_.getLong(0)), rows.map(_.getString(1)), rows.map(_.getDouble(2)),
      rows.map(_.getString(3)))
  }
}

/** Open-loop event generator: writes `graft-proto` shards into one source
  * directory on a fixed schedule from its own thread, stamping every
  * event with the time it was due. Content is the fixture replayed from a
  * seeded start row under fresh event ids; event time is the due time,
  * except that a seeded share of events are late (out of order, within
  * the dedup watermark), once [[tooLateFrac]] is set a seeded share are
  * later than the watermark (the dedup twin must drop them), and a seeded
  * share re-send an earlier event (duplicates). Event content depends only
  * on the seed and the schedule, never on how fast the engine runs. */
final class Generator(dir: String, seed: Long, pool: Pool,
                      lateFrac: Double, dupFrac: Double) {
  private val rng = new java.util.Random(seed)
  private val start = rng.nextInt(pool.size)
  private val encode = ProtoSerde.rowEncoder(Stream.schema)
  private val recent = mutable.ArrayBuffer.empty[Row]
  private val exec = Executors.newSingleThreadScheduledExecutor { r =>
    val t = new Thread(r, "perfbench-generator"); t.setDaemon(true); t
  }
  private var nextId = 0L
  private var shardNo = 0
  /** Share of new events made later than the watermark. */
  @volatile var tooLateFrac = 0.0
  @volatile var distinctIds = 0L
  /** Distinct ids the dedup twin must emit: those not beyond the watermark. */
  @volatile var onTimeIds = 0L
  private var tooLateIds = 0L
  @volatile var events = 0L
  @volatile var shards = 0
  /** (due ms, actual write start ms) per scheduled shard. */
  val ticks = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()

  Files.createDirectories(Paths.get(dir))
  Files.writeString(Paths.get(dir, GraftProtoDataSource.SchemaFile), Stream.schema.json)

  private def event(dueMs: Double): Row =
    if (recent.nonEmpty && rng.nextDouble() < dupFrac) {
      val r = recent(rng.nextInt(recent.size))
      Row(r.getLong(0), r.get(1), r.getLong(2), r.getString(3), r.getDouble(4),
        r.getString(5), dueMs.toLong)
    } else {
      val u = rng.nextDouble()
      val late =
        if (u < tooLateFrac) Stream.WatermarkMs + 300000L + rng.nextInt(900000)
        else if (u < tooLateFrac + lateFrac) 1000L + rng.nextInt(59000)
        else 0L
      if (late > Stream.WatermarkMs) tooLateIds += 1
      val i = ((start + nextId) % pool.size).toInt
      val r = Row(nextId, new Timestamp(dueMs.toLong - late), pool.user(i), pool.kind(i),
        pool.value(i), pool.props(i), dueMs.toLong)
      nextId += 1
      if (recent.size < 2000) recent += r else recent(rng.nextInt(2000)) = r
      r
    }

  /** Write one shard of `n` events due at `dueMs`; temp file, then an
    * atomic rename to a `.gpb` name, so the source never sees a partial
    * shard. */
  private def shard(n: Int, dueMs: Double): Unit = {
    val name = f"shard-$shardNo%07d.gpb"
    shardNo += 1
    val tmp = Paths.get(dir, s".$name.tmp")
    val out = new java.io.BufferedOutputStream(Files.newOutputStream(tmp), 1 << 16)
    try (0 until n).foreach(_ => GraftProtoDataSource.writeFrame(out, encode(event(dueMs))))
    finally out.close()
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
    events += n
    distinctIds = nextId
    onTimeIds = nextId - tooLateIds
    shards += 1
  }

  /** Run at `rate` events/s for `seconds`, one shard every `periodMs`. A
    * fixed-rate schedule: a tick that starts late does not push later
    * ticks back. Blocks until the phase is over. */
  def runRate(rate: Double, seconds: Double, periodMs: Long = 100): Unit = {
    val start = Clock.ms
    val total = (seconds * 1000 / periodMs).toInt
    var k = 0
    var carry = 0.0
    val done = new java.util.concurrent.CountDownLatch(1)
    val f = exec.scheduleAtFixedRate(() => {
      if (k < total) {
        val due = start + k * periodMs
        ticks.add((due, Clock.ms))
        carry += rate * periodMs / 1000.0
        val n = carry.toInt
        carry -= n
        shard(n, due)
        k += 1
      }
      if (k >= total) done.countDown()
    }, 0, periodMs, TimeUnit.MILLISECONDS)
    done.await()
    f.cancel(false)
  }

  /** Write `n` events at once as `parts` shards (on the generator thread). */
  def burst(n: Int, parts: Int): Unit =
    exec.submit(new Runnable {
      def run(): Unit = {
        val due = Clock.ms
        (0 until parts).foreach(i => shard(n / parts + (if (i < n % parts) 1 else 0), due))
      }
    }).get()

  def stop(): Unit = { exec.shutdown(); exec.awaitTermination(30, TimeUnit.SECONDS) }
}

/** The two streaming twins fed from one source directory, each with a
  * foreachBatch sink that records what it emitted and when. */
final class Twins(spark: SparkSession, src: String, ck: String, triggerMs: Long) {
  import spark.implicits._

  val dedupIds = new ConcurrentHashMap[Long, java.lang.Integer]()
  val dedupDistinct = new AtomicLong()
  val dedupRepeats = new AtomicLong()
  val totals = new ConcurrentHashMap[Long, (Long, Double)]()
  val totalsEvents = new AtomicLong()
  /** (created ms, sink-finished ms) per emitted dedup row. */
  val latency = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double)]()

  private val events = spark.readStream.format("graft-proto").schema(Stream.schema).load(src)
  /** Building the twins' DataFrames: the streaming workload's `build`. */
  private val t0 = Clock.ms
  private val dedupDf = EventStreams.dedupByEventId(events, Stream.Watermark)
  private val totalsDs = EventStreams.runningTotals(events.as[Event])
  val buildS: Double = Harness.secs(t0, Clock.ms)

  val dedup: StreamingQuery = dedupDf.writeStream.queryName("dedup")
    .trigger(Trigger.ProcessingTime(triggerMs))
    .option("checkpointLocation", s"$ck/dedup")
    .foreachBatch { (b: Dataset[Row], _: Long) =>
      val rows = b.select(col("event_id"), col("created_ms")).collect()
      val end = Clock.ms
      rows.foreach { r =>
        val id = r.getLong(0)
        if (dedupIds.put(id, 1) == null) dedupDistinct.incrementAndGet()
        else dedupRepeats.incrementAndGet()
        latency.add((r.getLong(1), end))
      }
    }.start()

  val running: StreamingQuery = totalsDs.writeStream.queryName("totals")
    .outputMode("update")
    .trigger(Trigger.ProcessingTime(triggerMs))
    .option("checkpointLocation", s"$ck/totals")
    .foreachBatch { (b: Dataset[UserTotal], _: Long) =>
      b.collect().foreach { t =>
        val old = totals.put(t.user_id, (t.n_events, t.total_value))
        totalsEvents.addAndGet(t.n_events - (if (old == null) 0L else old._1))
      }
    }.start()

  /** Both twins have emitted all they must; more than that (a wrong
    * output) the output check reports. */
  def caughtUp(g: Generator): Boolean =
    dedupDistinct.get() >= g.onTimeIds && totalsEvents.get() >= g.events

  /** Wait until both twins have emitted everything written so far. */
  def awaitCaughtUp(g: Generator, timeoutS: Double): Boolean = {
    val deadline = Clock.ms + timeoutS * 1000
    while (!caughtUp(g) && Clock.ms < deadline) {
      Seq(dedup, running).foreach(q => q.exception.foreach(e => throw e))
      Thread.sleep(5)
    }
    caughtUp(g)
  }

  def stop(): Unit = { dedup.stop(); running.stop() }

  def progress(): Seq[Map[String, Any]] =
    Seq(dedup, running).flatMap(_.recentProgress.toSeq.map(Probe.compact))

  def offsetLogBytes(): Long =
    Seq("dedup", "totals").map { q =>
      val d = new java.io.File(s"$ck/$q/offsets")
      Option(d.listFiles()).toSeq.flatten.filter(_.getName.forall(_.isDigit))
        .sortBy(_.getName.toLong).lastOption.map(_.length()).getOrElse(0L)
    }.sum
}

/** Open-loop streaming workload. Phases: set-up repetitions (fresh source
  * and checkpoint dirs, twins started, one warm shard through both), the
  * reference-rate phase (per-event latency), drain passes (a fixed burst
  * through both twins: saturation throughput), then the output check of
  * each twin against its batch computation over the source dir. */
object Stream {
  import Harness._

  /** The dedup twin's watermark delay, and the same in milliseconds. */
  val Watermark = "10 minutes"
  val WatermarkMs = 600000L

  val schema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType),
    StructField("created_ms", LongType)))

  def run(o: Opts, jvmStart: Double): Map[String, Any] = {
    val work = o("work")
    val cores = o.int("cores", 4)
    // the generator thread takes one core: engine threads + generator <= nproc
    val threads = math.max(1, cores - 1)
    val spark = session(o, "perfbench-stream", s"local[$threads]",
      EventStreams.rocksdbStateConfigs + ("spark.sql.shuffle.partitions" -> threads.toString))
    spark.range(1000000).selectExpr("sum(id)").collect()
    val pool = Pool.load(spark, o("events"))
    val sessionReady = Clock.ms
    val probe = new Probe
    val traced = o("trace") == "1"
    if (traced) attach(spark, probe)
    val res = measure(spark, o, pool, s"$work/main", traced, probe, threads)
    val local1 =
      if (traced && o("local1") == "1") {
        // single-threaded baseline: same twins, same rate, local[1]
        spark.stop()
        val s1 = session(o, "perfbench-stream-local1", "local[1]",
          EventStreams.rocksdbStateConfigs + ("spark.sql.shuffle.partitions" -> "1"))
        val r = measure(s1, Opts(o.kv ++ Map("setup-reps" -> "1", "drain-reps" -> "0",
            "ref-seconds" -> (o("ref-seconds").toDouble / 2).toString)),
          pool, s"$work/local1", traced = false, new Probe, 1)
        s1.stop()
        r
      } else Map.empty
    Map("session_start_s" -> secs(jvmStart, sessionReady), "threads" -> threads,
      "cores" -> cores, "local1" -> local1) ++ res
  }

  def measure(spark: SparkSession, o: Opts, pool: Pool, base: String, traced: Boolean,
              probe: Probe, threads: Int): Map[String, Any] = {
    val seed = o("seed").toLong
    val triggerMs = o("trigger-ms").toLong
    val rate = o("ref-rate").toDouble
    val refS = o("ref-seconds").toDouble
    val burstN = o("burst-events").toInt
    val timeout = 60.0 // seconds for the twins to catch up before a phase fails

    // set-up repetitions; the last one's twins go on to be measured
    var gen: Generator = null
    var twins: Twins = null
    val setup = (1 to o("setup-reps").toInt).map { i =>
      if (twins != null) twins.stop()
      if (gen != null) gen.stop()
      val t0 = Clock.ms
      val src = s"$base/src$i"
      val ck = s"$base/ck$i"
      Files.createDirectories(Paths.get(ck))
      gen = new Generator(src, seed * 1000003L + i, pool, lateFrac = 0.1, dupFrac = 0.05)
      twins = new Twins(spark, src, ck, triggerMs)
      gen.burst(200, 1)
      require(twins.awaitCaughtUp(gen, timeout), "set-up: twins did not catch up")
      Map("s" -> secs(t0, Clock.ms), "build_s" -> twins.buildS)
    }
    // untimed priming: the dedup twin drops late rows against the
    // watermark of two batches back, so one more warm shard through both
    // twins puts a batch with recent event times behind every later one;
    // from then on events later than the watermark are dropped for certain
    gen.burst(200, 1)
    require(twins.awaitCaughtUp(gen, timeout), "priming: twins did not catch up")
    gen.tooLateFrac = 0.01

    def refPhase(on: Boolean): Map[String, Any] = {
      require(twins.awaitCaughtUp(gen, timeout), "twins did not catch up before the phase")
      if (on) probe.open()
      val t0 = Clock.ms
      gen.runRate(rate, refS)
      val t1 = Clock.ms
      val ok = twins.awaitCaughtUp(gen, timeout)
      probe.close()
      Map("traced" -> on, "start" -> t0, "end" -> t1, "caught_up" -> ok,
        "drained_at" -> Clock.ms)
    }
    // a traced run brackets its traced phase with untraced ones
    val phases =
      if (traced) Seq(refPhase(on = false), refPhase(on = true), refPhase(on = false))
      else Seq(refPhase(on = false))

    // drain passes, each started just before a trigger boundary so the
    // engine picks the burst up at once; timed from the burst's due time
    val drains = (1 to o("drain-reps").toInt).map { _ =>
      require(twins.awaitCaughtUp(gen, timeout), "twins did not catch up before a drain")
      val boundary = (Clock.ms.toLong / triggerMs + 1) * triggerMs
      val wait = boundary - 150 - Clock.ms
      if (wait > 0) Thread.sleep(wait.toLong) else Thread.sleep((wait + triggerMs).toLong)
      val t0 = Clock.ms
      gen.burst(burstN, 8)
      val ok = twins.awaitCaughtUp(gen, timeout)
      Map("s" -> secs(t0, Clock.ms), "events" -> burstN, "caught_up" -> ok)
    }

    if (traced) probe.drain(spark)
    // stopped first, so the last batch's progress is in
    twins.stop()
    gen.stop()
    val progress = twins.progress()
    val offsetBytes = twins.offsetLogBytes()

    // output check: each twin against its batch computation over every
    // event written to the source dir. The dedup twin emits each event id
    // once, except ids whose event time is beyond the watermark
    val src = s"$base/src${setup.size}"
    val all = spark.read.format("graft-proto").schema(schema).load(src)
    val tooLate = col("created_ms") - unix_millis(col("ts")) > WatermarkMs
    val expectIds = all.filter(!tooLate).select("event_id").distinct().collect()
      .map(_.getLong(0)).toSet
    val tooLateRows = all.filter(tooLate).count()
    val gotIds = twins.dedupIds.keySet().asScala.map(_.longValue).toSet
    // per-user count, and the exact sum of the doubles; the twin adds in
    // arrival order, so its double sum may differ from the exact one by
    // rounding: up to one ulp of the total per event added is accepted,
    // and the largest difference is reported in ulps
    val expectTotals = mutable.HashMap.empty[Long, (Long, java.math.BigDecimal)]
    all.select("user_id", "value").collect().foreach { r =>
      val (n, v) = expectTotals.getOrElse(r.getLong(0), (0L, java.math.BigDecimal.ZERO))
      expectTotals(r.getLong(0)) = (n + 1, v.add(new java.math.BigDecimal(r.getDouble(1))))
    }
    val gotTotals = twins.totals.asScala.map { case (k, v) => k.longValue -> v }.toMap
    val ulps = expectTotals.toSeq.map { case (k, (n, v)) =>
      gotTotals.get(k) match {
        case Some((gn, gv)) if gn == n =>
          math.abs(new java.math.BigDecimal(gv).subtract(v).doubleValue) / math.ulp(gv) / n
        case _ => Double.PositiveInfinity
      }
    }
    val maxUlpsPerEvent = (ulps :+ 0.0).max
    val dedupOk = expectIds == gotIds && twins.dedupRepeats.get() == 0
    val totalsOk = gotTotals.keySet == expectTotals.keySet && maxUlpsPerEvent <= 1.0
    if (!dedupOk) System.err.println(s"[perfbench] dedup twin: ${expectIds.size} expected, " +
      s"${gotIds.size} emitted, ${twins.dedupRepeats.get()} repeats, " +
      s"${(expectIds -- gotIds).size} missing, ${(gotIds -- expectIds).size} extra")
    if (!totalsOk) System.err.println(s"[perfbench] totals twin: " +
      s"${ulps.count(_ > 1.0)} users differ, ${gotTotals.size} emitted")

    Map("setup" -> setup, "phases" -> phases, "drains" -> drains,
      "latency" -> twins.latency.asScala.toSeq.map { case (c, e) => Seq(c, e) },
      "progress" -> progress, "offset_log_bytes" -> offsetBytes,
      "ticks" -> gen.ticks.asScala.toSeq.map { case (d, a) => Seq(d, a) },
      "events" -> gen.events, "distinct_ids" -> gen.distinctIds,
      "too_late_ids" -> (gen.distinctIds - gen.onTimeIds), "shards" -> gen.shards,
      "rate" -> rate, "trigger_ms" -> triggerMs, "threads" -> threads,
      "check" -> Map("dedup" -> dedupOk, "totals" -> totalsOk,
        "dedup_expected" -> expectIds.size, "too_late_rows" -> tooLateRows,
        "users" -> expectTotals.size, "totals_max_ulps_per_event" -> maxUlpsPerEvent,
        "totals_inexact_users" -> ulps.count(_ > 0)),
      "trace" -> (if (traced) probe.snapshot() else Map.empty))
  }
}
