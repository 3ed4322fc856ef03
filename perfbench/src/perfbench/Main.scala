package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftSession, SparkEntry}
import graft.sources.{Sinks, Stores}

/** One benchmark run of one workload, driven through the engine's public
  * entry points: `SparkEntry.queries`, `GraftSession`, `Stores`, `Sinks`.
  *
  * {{{
  * Main --workload interactive_mix --seed 1 --seconds 15 --trace 0 \
  *      --spec ops.json --data <corpus dir> --work <scratch dir> --out run.jsonl
  * }}}
  *
  * The run has four parts: set-up (session, store builds, one warm-up
  * execution of each distinct op, which is also the op's reference
  * answer), the timed window, the end-of-run heap reading, and the check
  * dumps the oracle compare reads. With `--trace 1` the second half of the
  * window runs with the [[Tracer]] attached, so the first half is the
  * untraced baseline the tracing overhead is measured against. Every
  * record goes to `--out`; metrics are derived from it afterwards.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val epochMs = System.currentTimeMillis()
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val workload = a("workload")
    val spec = Out.json.readTree(new File(a("spec"))).get(workload)
    val out = new Out
    val run = new Run(a, spec, out, t0, epochMs)
    try run.go(workload)
    finally {
      out.writeTo(a("out"))
      run.stop()
    }
  }
}

final class Run(a: Map[String, String],
                spec: com.fasterxml.jackson.databind.JsonNode,
                out: Out, t0: Long, epochMs: Long) {
  private val seed = a("seed").toLong
  private val seconds = a("seconds").toDouble
  private val traced = a("trace") == "1"
  private val dir = a("data")
  private val work = a("work")
  private val cores = a("cores").toInt

  private def opList(key: String): Seq[(String, String)] = Option(spec.get(key)).toSeq
    .flatMap(_.properties.asScala.map(e => e.getKey -> e.getValue.asText))
  /** ops the clients run in the timed window */
  private val rotation: Seq[String] = opList("ops").map(_._1)
  /** served ops that run only once, after the writer has stopped */
  private val probe: Seq[String] = opList("probe").map(_._1)
  private val action = (opList("ops") ++ opList("probe")).toMap
  private val ops: Seq[(String, String)] = (rotation ++ probe).map(n => n -> action(n))

  def now(): Double = (System.nanoTime() - t0) / 1e6

  private lazy val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cores]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", cores.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.cleaner.periodicGC.interval", "1min")
    .config("spark.local.dir", s"$work/spark-local")
    .config("spark.sql.warehouse.dir", s"$work/warehouse")
    .config("spark.graft.storeRoot", s"$work/stores")
    .config("spark.hadoop.fs.file.impl", classOf[CountingFs].getName)
    .getOrCreate()

  def stop(): Unit = SparkSession.getActiveSession.foreach(_.stop())

  // ---------------------------------------------------------------- ops --

  private val opIds = new AtomicLong()
  /** warm-up answer of each op: collected rows, or (rows, digest) of a noop */
  private val reference = new java.util.concurrent.ConcurrentHashMap[String, (Long, String, Array[Row])]()
  @volatile private var traceFrom = Double.MaxValue

  /** Build one op through `SparkEntry.queries`, run its declared action
    * and record the op span (due, start, end of build, end). */
  def execOp(client: Int, name: String, phase: String, due: Double): Option[(Long, String, Array[Row])] = {
    val id = opIds.getAndIncrement()
    val sc = spark.sparkContext
    sc.setJobGroup(s"op-$id", name, interruptOnCancel = false)
    val start = now()
    var built = start
    var answer: Option[(Long, String, Array[Row])] = None
    var err: String = null
    try {
      val df = SparkEntry.queries(name)(spark, dir)
      built = now()
      answer = Some(runAction(df, action(name)))
      if (start >= traceFrom && action(name) == "collect") {
        val ph = df.queryExecution.tracker.phases
        def ms(p: String): Double = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
        out.emit("plan", "op" -> id, "analysis_ms" -> ms("analysis"),
          "optimization_ms" -> ms("optimization"), "planning_ms" -> ms("planning"))
      }
    } catch {
      case e: Throwable =>
        err = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300)
    } finally sc.clearJobGroup()
    val end = now()
    out.emit("op", "id" -> id, "client" -> client, "name" -> name, "phase" -> phase,
      "due" -> due, "start" -> start, "built" -> built, "end" -> end, "ok" -> answer.isDefined,
      "err" -> err, "rows" -> answer.map(_._1), "digest" -> answer.map(_._2),
      "traced" -> (start >= traceFrom))
    answer
  }

  /** `collect()` for report-sized answers (order-sensitive digest of the
    * rows), a `noop` write for bulk ones (count plus an order-insensitive
    * row-hash digest observed on the written rows). */
  private def runAction(df: DataFrame, act: String): (Long, String, Array[Row]) = act match {
    case "collect" =>
      val rs = df.collect()
      (rs.length.toLong, Digest.rows(rs), rs)
    case "noop" =>
      val (n, d) = observed(df)(_.write.format("noop").mode("overwrite").save())
      (n, d, null)
  }

  private def observed(df: DataFrame)(write: DataFrame => Unit): (Long, String) = {
    val obs = Observation()
    val h = xxhash64(to_json(struct(df.columns.map(c => col(s"`$c`")): _*)))
    write(df.observe(obs, count(lit(1)).as("n"), bit_xor(h).as("x"),
      sum(pmod(h, lit(1000003L))).as("s")))
    val m = obs.get
    val n = m("n").asInstanceOf[Long]
    (n, s"$n:${m("x")}:${m("s")}")
  }

  // ------------------------------------------------------------ set-up --

  def go(workload: String): Unit = {
    out.emit("env", "workload" -> workload, "seed" -> seed, "seconds" -> seconds,
      "traced" -> traced, "cores_requested" -> cores)
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReady = now()
    GraftSession.open(spark, dir)
    workload match {
      case "served_rw" => buildStores()
      case _ => ()
    }
    ops.foreach { case (name, _) =>
      execOp(0, name, "warm", now()).foreach(reference.put(name, _))
    }
    val setupEnd = now()
    out.emit("setup", "session_ms" -> sessionReady, "setup_ms" -> setupEnd)
    envRecord()

    val windowStart = now()
    val windowEnd = windowStart + seconds * 1000
    if (traced) traceFrom = windowStart + seconds * 500
    val tracer = new Tracer(out, epochMs)
    val counters = new Counters
    counters.sample("start")
    val tracerThread = if (!traced) None else Some(startTracerAt(tracer, counters))
    workload match {
      case "interactive_mix" => closedLoop(0, windowEnd)
      case "served_rw" => servedRw(windowStart, windowEnd)
    }
    tracerThread.foreach(_.join())
    counters.sample("end")
    if (traced) {
      drain(tracer)
      spark.sparkContext.removeSparkListener(tracer)
    }
    out.emit("window", "start" -> windowStart, "end" -> now(), "planned_end" -> windowEnd,
      "trace_from" -> (if (traced) traceFrom else null))
    heapAfterGc()
    workload match {
      case "served_rw" => dumpFinal()
      case _ => ()
    }
    dumpReferences()
    val oracle = SparkEntry.oracleSql
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$work/oracle_sql.json"),
      Out.json.writeValueAsString(ops.flatMap { case (n, _) => oracle.get(n).map(n -> _) }.toMap))
  }

  /** Builds every standing store `openStores` serves (timed as the store
    * build), then registers the store views (timed as the open). */
  private def buildStores(): Unit = {
    val builds = Seq[(String, () => String)](
      "postings" -> (() => Stores.postingStore(spark, dir)),
      "term_dict" -> (() => Stores.termDict(spark, dir)),
      "latency_sketch" -> (() => Stores.latencySketch(spark, dir)),
      "daily_rollup" -> (() => Stores.dailyRollup(spark, dir)),
      "shingle_pairs" -> (() => Stores.shinglePairs(spark, dir)),
      "pq_index" -> (() => Stores.pqIndex(spark, dir)))
    val each = builds.map { case (store, build) =>
      val t = now(); build(); store -> (now() - t)
    }
    val b1 = now()
    GraftSession.openStores(spark, dir)
    val b2 = now()
    out.emit("stores", "build_ms" -> each.map(_._2).sum, "open_ms" -> (b2 - b1),
      "build_ms_by_store" -> each.toMap, "bytes_after_build" -> dirBytes(s"$work/stores"))
  }

  private def envRecord(): Unit = {
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
      .filterNot { case (k, _) => k.startsWith("spark.app.") || k == "spark.driver.host" ||
        k == "spark.driver.port" || k.startsWith("spark.executor.id") }
    val rt = ManagementFactory.getRuntimeMXBean
    out.emit("jvm",
      "cores_granted" -> spark.sparkContext.defaultParallelism,
      "available_processors" -> Runtime.getRuntime.availableProcessors,
      "java_version" -> System.getProperty("java.version"),
      "jvm" -> s"${rt.getVmName} ${rt.getVmVersion}",
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "codegen_cache_max_entries" -> spark.conf.get("spark.sql.codegen.cache.maxEntries", "100"),
      "spark_conf" -> conf.toMap)
  }

  // ------------------------------------------------------------ clients --

  /** One closed-loop client over the op list in a seeded round-robin order:
    * a fixed seeded permutation, repeated, until the window has ended and
    * at least one whole pass is done. */
  private def closedLoop(client: Int, windowEnd: Double): Unit = {
    val order = new Random(seed).shuffle(rotation)
    var i = 0
    while (now() < windowEnd || i < order.length) {
      execOp(client, order(i % order.length), "timed", now())
      i += 1
    }
  }

  private def servedRw(windowStart: Double, windowEnd: Double): Unit = {
    val readers = spec.get("readers").asInt
    val w = spec.get("writer")
    val threads = (1 to readers).map { r =>
      val order = new Random(seed * 31 + r).shuffle(rotation)
      new Thread(() => {
        var i = 0
        while (now() < windowEnd) {
          execOp(r, order(i % order.length), "timed", now())
          i += 1
        }
      }, s"reader-$r")
    }
    val writer = new Thread(() => openLoopWriter(windowStart, windowEnd,
      w.get("interval_ms").asDouble, w.get("compact_every").asInt), "writer")
    (threads :+ writer).foreach(_.start())
    (threads :+ writer).foreach(_.join())
  }

  /** Open-loop writer: batch b is due at windowStart + b × interval whether
    * or not the previous batch has finished; a late batch starts as soon as
    * the writer is free. Each batch lands through the three refresh sinks,
    * and every `compactEvery` batches the posting segments are compacted. */
  private def openLoopWriter(windowStart: Double, windowEnd: Double,
                             intervalMs: Double, compactEvery: Int): Unit = {
    val post = Stores.postingStore(spark, dir)
    val rollup = Stores.dailyRollup(spark, dir)
    val sketch = Stores.latencySketch(spark, dir)
    val batches = new File(s"$work/batches").list().count(_.startsWith("docs_"))
    var b = 0
    def due(i: Int): Double = windowStart + i * intervalMs
    while (b < batches && due(b) < windowEnd && now() < windowEnd) {
      val wait = due(b) - now()
      if (wait > 0) Thread.sleep(wait.toLong)
      if (now() < windowEnd) {
        val start = now()
        val docs = spark.read.parquet(f"$work/batches/docs_$b%03d.parquet")
        val events = spark.read.parquet(f"$work/batches/events_$b%03d.parquet")
        val w0 = Counters.fsBytesWritten()
        sink(b, "refresh_postings")(Sinks.refreshPostings(spark, post, docs))
        sink(b, "refresh_rollup")(Sinks.refreshDailyRollup(spark, rollup, events))
        sink(b, "refresh_sketch")(Sinks.refreshLatencySketches(spark, sketch, events))
        if ((b + 1) % compactEvery == 0) sink(b, "compact")(Sinks.compactPostings(spark, post))
        val end = now()
        val written = Counters.fsBytesWritten() - w0
        val segs = try spark.table("graft_store_health").select("visible_segments").head.get(0).toString
                   catch { case e: Throwable => null }
        out.emit("batch", "batch" -> b, "due" -> due(b), "start" -> start, "end" -> end,
          "bytes_written" -> written, "segments_visible" -> segs)
        b += 1
      }
    }
    val backlog = (b until batches).count(i => due(i) < windowEnd)
    out.emit("writer", "landed" -> b, "backlog" -> backlog,
      "store_bytes" -> dirBytes(s"$work/stores"))
  }

  private def sink(batch: Int, step: String)(f: => Unit): Unit = {
    val s = now()
    var err: String = null
    try f catch { case e: Throwable => err = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(300) }
    out.emit("sink", "batch" -> batch, "step" -> step, "start" -> s, "end" -> now(),
      "err" -> err, "traced" -> (s >= traceFrom))
  }

  // ------------------------------------------------------------ tracing --

  private def startTracerAt(tracer: Tracer, counters: Counters): Thread = {
    val t = new Thread(() => {
      val wait = traceFrom - now()
      if (wait > 0) Thread.sleep(wait.toLong)
      counters.sample("trace")
      spark.sparkContext.addSparkListener(tracer)
    }, "trace-start")
    t.start()
    t
  }

  /** Waits until every listener event posted so far has been delivered: a
    * marker job is posted last, and the listener queue delivers in order. */
  private def drain(tracer: Tracer): Unit = {
    val sc = spark.sparkContext
    sc.setJobGroup("drain", "drain", interruptOnCancel = false)
    sc.parallelize(Seq(1), 1).count()
    sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (!tracer.drained && System.nanoTime() < deadline) Thread.sleep(20)
  }

  // -------------------------------------------------------------- end --

  private def heapAfterGc(): Unit = {
    val mem = ManagementFactory.getMemoryMXBean
    val used = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(100); mem.getHeapMemoryUsage.getUsed
    }
    out.emit("heap", "used_mb" -> used.min / 1048576.0)
  }

  /** Reference answers for the oracle compare: the warm-up rows of collect
    * ops, and a checked re-execution of noop ops written with the same
    * observed digest. */
  private def dumpReferences(): Unit = parallel(ops) { case (name, act) =>
    val ref = reference.get(name)
    if (ref != null) act match {
      case "collect" => writeRows(name, ref._3, s"$work/ref/$name")
      case "noop" =>
        val id = opIds.getAndIncrement()
        try {
          val (n, d) = observed(SparkEntry.queries(name)(spark, dir))(
            _.coalesce(1).write.mode("overwrite").parquet(s"$work/ref/$name"))
          out.emit("op", "id" -> id, "client" -> -1, "name" -> name, "phase" -> "dump",
            "ok" -> true, "rows" -> n, "digest" -> d)
        } catch { case e: Throwable =>
          out.emit("op", "id" -> id, "client" -> -1, "name" -> name, "phase" -> "dump",
            "ok" -> false, "err" -> e.toString.take(300))
        }
    }
  }

  /** Final-state answers: one more execution of every op, dumped. */
  private def dumpFinal(): Unit = parallel(ops) { case (name, _) =>
    execOp(-1, name, "final", now()).foreach { got =>
      if (SparkEntry.oracleSql.contains(name)) writeRows(name, got._3, s"$work/final/$name")
    }
  }

  /** Runs the untimed end-of-run work on `cores` threads. */
  private def parallel[T](items: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(cores)
    try items.map(i => pool.submit((() => f(i)): Runnable)).foreach(_.get())
    finally pool.shutdown()
  }

  private def writeRows(name: String, rows: Array[Row], path: String): Unit = {
    val schema = SparkEntry.queries(name)(spark, dir).schema
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(path)
  }

  private def dirBytes(path: String): Long = {
    val f = new File(path)
    if (!f.exists()) 0L
    else java.nio.file.Files.walk(f.toPath).iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p))
      .map(p => java.nio.file.Files.size(p)).sum
  }

  /** JVM-wide counters sampled at window start, trace start and end:
    * codegen compiles, driver GC time, file-system read ops. */
  private final class Counters {
    def sample(at: String): Unit = {
      val cg = CodegenMetrics.METRIC_COMPILATION_TIME
      val vals = cg.getSnapshot.getValues
      val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
      out.emit("counters", "at" -> at, "t" -> now(),
        "compiles" -> cg.getCount,
        "compile_ms_reservoir" -> vals.sum.toDouble, "reservoir_n" -> vals.length,
        "compile_ms_mean" -> cg.getSnapshot.getMean,
        "driver_gc_ms" -> gc, "fs_read_ops" -> CountingFs.readOps.get)
    }
  }

  private object Counters {
    private def stats = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file")
    def fsBytesWritten(): Long = stats.map(_.getBytesWritten).sum
  }
}
