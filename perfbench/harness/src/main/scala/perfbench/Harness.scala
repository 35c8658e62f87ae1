package perfbench

import java.io.File
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{GraftSession, SparkEntry}
import graft.functions.ScopedCache

/** Benchmark harness JVM. `perfbench/run.py` prepares the inputs, starts
  * this with `--mode batch|stream`, and turns the raw record it writes to
  * `--out` into metrics. This side only measures: it times calls into the
  * library's public entry points and reads Spark's public listener and
  * storage APIs; it computes no aggregate. */
object Harness {

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def int(k: String, d: Int): Int = kv.get(k).map(_.toInt).getOrElse(d)
    def dbl(k: String, d: Double): Double = kv.get(k).map(_.toDouble).getOrElse(d)
    def list(k: String): Seq[String] = kv.get(k).toSeq.flatMap(_.split(",")).filter(_.nonEmpty)
  }

  def parse(args: Array[String]): Opts =
    Opts(args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap)

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val result = o("mode") match {
      case "batch" => Batch.run(o, jvmStart)
      case "stream" => Stream.run(o, jvmStart)
      case m => sys.error(s"unknown mode $m")
    }
    val withRss = result + ("rss_peak_mb" -> rssPeakMb())
    Files.writeString(Paths.get(o("out")), Json.write(withRss))
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def rssPeakMb(): Double =
    scala.util.Try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)

  /** A session confined to the run's private work dir. */
  def session(o: Opts, app: String, master: String,
              extra: Map[String, String] = Map.empty): SparkSession = {
    val work = o("work")
    val b = GraftSession.builder(app).master(master)
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "5000")
    extra.foreach { case (k, v) => b.config(k, v) }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def attach(spark: SparkSession, probe: Probe): Unit = {
    spark.sparkContext.addSparkListener(probe)
    spark.listenerManager.register(probe)
  }

  def secs(t0: Double, t1: Double): Double = (t1 - t0) / 1000.0
}

/** Closed-loop batch workload: one client submits the query list in order,
  * each query cache-cold (settle first), result to the noop sink. */
object Batch {
  import Harness._

  /** Same quiesce as graft.Bench between queries: drop every scoped cache
    * and cached plan, then a GC settle. */
  def settle(spark: SparkSession): Unit = {
    ScopedCache.clear(blocking = true)
    spark.catalog.clearCache()
    System.gc()
    Thread.sleep(150)
  }

  /** Published artifacts in the current java.io.tmpdir, by directory
    * identity: a build publishes a new directory (atomic rename), so a new
    * or changed file key means the artifact was (re)built. */
  def artifacts(): Map[String, String] = {
    val tmp = new File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("graft_") &&
        !f.getName.contains(".tmp.") && !f.getName.contains(".old."))
      .map(f => f.getName -> String.valueOf(
        Files.readAttributes(f.toPath, classOf[BasicFileAttributes]).fileKey()))
      .toMap
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  def cacheState(spark: SparkSession): (Int, Long) = {
    val sc = spark.sparkContext
    (sc.getPersistentRDDs.size, sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum)
  }

  def run(o: Opts, jvmStart: Double): Map[String, Any] = {
    val dir = o("data")
    val work = o("work")
    val cores = o.int("cores", 4)
    val spark = session(o, "perfbench-batch", s"local[$cores]")
    // generic infra warm-up, as graft.Bench does before its first query
    spark.range(1000000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$dir/region.parquet").count()
    val sessionReady = Clock.ms
    val traced = o("trace") == "1"
    val probe = new Probe
    if (traced) attach(spark, probe)

    val all = SparkEntry.queries
    def resolve(prefixes: Seq[String]): Seq[(String, (SparkSession, String) => DataFrame)] =
      prefixes.map { p =>
        val name = all.keys.filter(_.startsWith(p)).toSeq.sorted.headOption
          .getOrElse(sys.error(s"no query matches $p"))
        name -> all(name)
      }
    val queries = resolve(o.list("queries"))
    val builders = resolve(o.list("setup-queries"))

    // set-up repetitions: each in a fresh, empty private tmpdir, so every
    // ArtifactStore.ensure the workload reads builds here and not in a
    // timed pass. The builders are called without an action: building the
    // DataFrame is what runs the eager ensure.
    def useTmp(name: String): Unit = {
      val d = new File(s"$work/$name")
      d.mkdirs()
      System.setProperty("java.io.tmpdir", d.getAbsolutePath)
    }
    val setupReps = (1 to o.int("setup-reps", 3)).map { i =>
      useTmp(s"tmp$i")
      settle(spark)
      val t0 = Clock.ms
      builders.foreach { case (_, fn) => fn(spark, dir) }
      val t1 = Clock.ms
      Map("s" -> secs(t0, t1), "artifacts" -> artifacts().size)
    }

    // untimed warm pass, which is also the output check's dump
    val outDir = s"$work/out"
    val checkT0 = Clock.ms
    val checkFailed = mutable.ArrayBuffer.empty[String]
    queries.foreach { case (name, fn) =>
      settle(spark)
      try fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[perfbench] check pass: $name failed: $e")
        checkFailed += name
      }
    }
    val checkS = secs(checkT0, Clock.ms)
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => queries.exists(_._1 == k) }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), Json.write(oracle))

    // timed passes; a traced run alternates untraced and traced passes,
    // starting and ending untraced, so warm-up does not bias the tracing
    // overhead either way
    val seconds = o.dbl("seconds", 10)
    val minPasses = if (traced) 3 else 1
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    val t0 = Clock.ms
    while (passes.size < minPasses || Clock.ms - t0 < seconds * 1000 ||
        (traced && passes.size % 2 == 0)) {
      val on = traced && passes.size % 2 == 1
      if (on) probe.open()
      passes += pass(spark, dir, queries, on)
      probe.close()
    }
    if (traced) probe.drain(spark)
    Map("session_start_s" -> secs(jvmStart, sessionReady), "setup" -> setupReps,
      "check_s" -> checkS, "check_failed" -> checkFailed.toSeq,
      "queries" -> queries.map(_._1), "passes" -> passes.toSeq, "cores" -> cores,
      "trace" -> (if (traced) probe.snapshot() else Map.empty))
  }

  def pass(spark: SparkSession, dir: String,
           queries: Seq[(String, (SparkSession, String) => DataFrame)],
           traced: Boolean): Map[String, Any] = {
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    var settleS = 0.0
    val rows = queries.map { case (name, fn) =>
      val s0 = Clock.ms
      settle(spark)
      val before = artifacts()
      val (_, cacheAfterSettle) = cacheState(spark)
      val t0 = Clock.ms
      settleS += secs(s0, t0)
      var tBuild = t0
      var ok = true
      var cache = (0, 0L)
      var buildPhases = Map.empty[String, Map[String, Long]]
      try {
        val df = fn(spark, dir)
        tBuild = Clock.ms
        df.write.format("noop").mode("overwrite").save()
        // the DataFrame's own eager analysis ran inside fn; the action
        // plans a new query execution, which the probe reports
        if (traced) buildPhases = df.queryExecution.tracker.phases.map { case (k, p) =>
          k -> Map("start" -> p.startTimeMs, "end" -> p.endTimeMs)
        }
        cache = cacheState(spark)
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] $name failed: $e")
        ok = false
      }
      val t1 = Clock.ms
      val after = artifacts()
      val built = after.filter { case (k, v) => !before.get(k).contains(v) }.keys.toSeq
      Map("name" -> name, "ok" -> ok, "start" -> t0, "built_at" -> tBuild, "end" -> t1,
        "build_phases" -> buildPhases,
        "artifact_builds" -> built.size,
        "artifact_bytes" -> built.map(b => dirBytes(tmp.resolve(b))).sum,
        "cache_rdds" -> cache._1, "cache_bytes" -> cache._2,
        "cache_bytes_after_settle" -> cacheAfterSettle)
    }
    Map("traced" -> traced, "settle_s" -> settleS, "queries" -> rows)
  }
}
