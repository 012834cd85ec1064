package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.sql.{DriverManager, Timestamp}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.{EtlRun, SparkEntry}
import graft.load.{JdbcSink, ProxyJdbcDriver, ProxyJdbcServer}
import graft.operators.DedupIndex
import graft.sources.{HttpFetcher, JdkHttpFetcher}
import graft.streaming.{CurationPipeline, StreamingIngestDedup}
import graft.transform.FplSchemas

/** One workload run in one JVM: set up several times (the last session
  * is kept), run the workload's measured phase once, check every output,
  * and write one JSON result file for `run.py` to reduce into metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --inputs DIR --nproc N --out FILE
  */
object Harness {

  /** Set-ups per run; `setup_s` is their median. */
  val Setups = 3

  final case class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def workload: String = apply("workload")
    def seed: Long = apply("seed").toLong
    def seconds: Double = apply("seconds").toDouble
    def trace: Boolean = apply("trace") == "1"
    def work: String = apply("work")
    def inputs: String = apply("inputs")
    def nproc: Int = apply("nproc").toInt
  }

  /** The session conf every run uses: the shared session set of the
    * repository's mains (DEPLOYMENT.md section 1), at local[nproc], with
    * every scratch directory inside the run's work dir. */
  def conf(o: Opts): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[${o.nproc}]",
    "spark.sql.shuffle.partitions" -> o.nproc.toString,
    "spark.sql.adaptive.enabled" -> "true",
    "spark.cleaner.referenceTracking.cleanCheckpoints" -> "true",
    "spark.checkpoint.compress" -> "true",
    "spark.sql.files.openCostInBytes" -> "131072",
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.ui.enabled" -> "false",
    "spark.local.dir" -> s"${o.work}/spark-local",
    "spark.sql.warehouse.dir" -> s"${o.work}/warehouse",
    "spark.hadoop.hadoop.tmp.dir" -> s"${o.work}/hadoop-tmp")

  def session(o: Opts): SparkSession = {
    val b = SparkSession.builder().appName(s"perfbench-${o.workload}")
    conf(o).foreach { case (k, v) => b.config(k, v) }
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  /** Total bytes of the regular files under `dir`. */
  def du(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }
  }

  def rmrf(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rmrf)
    f.delete(): Unit
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Codegen compile time so far (ms): Spark's compilation-time
    * histogram keeps every sample up to its reservoir size; beyond that
    * the retained mean is scaled to the full count. */
  private def codegenMs: Double = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val vs = h.getSnapshot.getValues
    if (vs.isEmpty) 0.0 else vs.sum.toDouble * h.getCount / vs.length
  }

  /** What a workload's measured phase hands back to [[main]]: operation
    * counts, output checks, per-operation times and named counters. */
  final class Outcome {
    val ops = mutable.ArrayBuffer[Double]()
    var attempted, failed = 0
    val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
    val counters = mutable.LinkedHashMap[String, Any]()
    def check(name: String, ok: Boolean, detail: => String): Boolean = {
      checks += ((name, ok, if (ok) "" else detail))
      ok
    }
  }

  /** Context a workload runs in. */
  final class Ctx(val o: Opts, val spans: Option[Spans], t0: Long) {
    val clock: () => Double = () => (System.nanoTime() - t0) / 1e9
    def span[A](name: String)(f: => A): A = spans.fold(f)(_(name)(f))
  }

  def main(argv: Array[String]): Unit = {
    val jvmStart = System.nanoTime()
    val o = Opts(argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap)
    System.setProperty("derby.stream.error.file", s"${o.work}/derby.log")
    val w: Workload = o.workload match {
      case "etl_season" => new EtlSeason(o)
      case "query_stream" => new QueryStream(o)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up, repeated: the last session stays up for the measured phase
    val setupS = (1 to Setups).map { i =>
      val t0 = System.nanoTime()
      val spark = session(o)
      w.setup(spark, i)
      val s = secs(t0)
      System.err.println(f"[perfbench] setup $i: $s%.2f s")
      if (i < Setups) { w.teardown(); spark.stop() }
      s
    }
    val spark = SparkSession.active
    val clock0 = System.nanoTime()
    val spans = if (o.trace) Some(new Spans(s"${o.workload}-${o.seed}", clock0)) else None
    val ctx = new Ctx(o, spans, clock0)
    val engine = spans.map { sp =>
      val l = new EngineListener(() => sp.now)
      spark.sparkContext.addSparkListener(l)
      l
    }
    val out = new Outcome
    val cpu0 = cpuNanos
    val gc0 = gcMillis
    val cg0 = codegenMs
    val t0 = System.nanoTime()
    ctx.span("run") { w.run(spark, ctx, out) }
    val window = secs(t0)
    System.err.println(f"[perfbench] window $window%.1f s, ends at ${secs(jvmStart)}%.1f s")
    val cpuS = (cpuNanos - cpu0) / 1e9
    val gcS = (gcMillis - gc0) / 1e3
    val cgMs = codegenMs - cg0
    w.teardown()
    // listener bus is asynchronous: let the last task-end events land
    if (engine.isDefined) Thread.sleep(1000)
    spark.stop()
    val engineJson = engine.map { e =>
      def tot(t: e.Totals) = Map(
        "jobs" -> t.jobs, "stages" -> t.stages, "tasks" -> t.tasks,
        "task_run_s" -> t.runMs / 1e3, "task_cpu_s" -> t.cpuNs / 1e9,
        "shuffle_write_bytes" -> t.shuffleWrite, "shuffle_read_bytes" -> t.shuffleRead,
        "spill_bytes" -> t.spill, "input_bytes" -> t.input, "output_bytes" -> t.output)
      Json.Raw(Json.obj(Seq(
        "total" -> tot(e.total),
        "groups" -> e.byGroup.map { case (g, t) => g -> tot(t) }.toMap,
        "task_skew_max" -> e.skewMax(o.nproc),
        "jobs" -> e.jobTimes.map { case (g, s, en) => Seq(g, s, en) }.toSeq)))
    }
    val res = Json.obj(Seq(
      "workload" -> o.workload, "seed" -> o.seed, "trace" -> o.trace,
      "sizes" -> w.sizes, "queries" -> QueryStream.Queries,
      "setup_s" -> setupS, "op_s" -> out.ops.toSeq, "window_s" -> window,
      "cpu_s" -> cpuS, "gc_s" -> gcS, "codegen_compile_ms" -> cgMs,
      "peak_rss_mb" -> peakRssMb,
      "attempted" -> out.attempted, "failed" -> out.failed,
      "checks" -> out.checks.map { case (n, ok, d) =>
        Map("name" -> n, "ok" -> ok, "detail" -> d) }.toSeq,
      "counters" -> out.counters.toMap,
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "conf" -> conf(o).toMap,
      "spans" -> Json.Raw(spans.map(_.json).getOrElse("[]")),
      "engine" -> engineJson.getOrElse(null)))
    Files.writeString(Paths.get(o("out")), res)
    System.err.println(f"[perfbench] result written at ${secs(jvmStart)}%.1f s")
    // lingering non-daemon threads (stream executors, JDBC) must not hold
    // the process open once the result is written
    sys.exit(0)
  }
}

/** One benchmark workload: `setup` runs several times (each on a fresh
  * session, undone by `teardown`); `run` is the measured phase, on the
  * last set-up. `sizes` are the workload's fixed input sizes. */
trait Workload {
  def sizes: Map[String, Any]
  def setup(spark: SparkSession, i: Int): Unit
  def run(spark: SparkSession, ctx: Harness.Ctx, out: Harness.Outcome): Unit
  def teardown(): Unit = ()
}

/** Wraps an [[HttpFetcher]] to count GETs and time each one; counts come
  * back from the executors through accumulators. */
final class CountingFetcher(inner: HttpFetcher,
    val gets: org.apache.spark.util.LongAccumulator,
    val millis: org.apache.spark.util.CollectionAccumulator[java.lang.Double])
    extends HttpFetcher {
  override def get(url: String): String = {
    val t0 = System.nanoTime()
    try inner.get(url) finally {
      gets.add(1)
      millis.add((System.nanoTime() - t0) / 1e6)
    }
  }
}

object EtlSeason {
  /** Players with history in the generated season. */
  val Players = 400
}

/** One full-season extract → transform → load into in-memory Derby
  * behind the loopback JDBC proxy, the ETL capstone's own path. One-shot:
  * a nightly ETL pays JIT and codegen on every run. */
final class EtlSeason(o: Harness.Opts) extends Workload {
  private var season: Season = _
  private var server: HttpServer = _

  def sizes: Map[String, Any] = Map("players" -> EtlSeason.Players)

  def setup(spark: SparkSession, i: Int): Unit = {
    season = new Season(o.seed, EtlSeason.Players)
    val s = season
    server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(o.nproc))
    def respond(ex: HttpExchange, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.sendResponseHeaders(200, bytes.length)
      ex.getResponseBody.write(bytes)
      ex.close()
    }
    server.createContext("/api/bootstrap-static/", (ex: HttpExchange) => respond(ex, s.mainJson))
    server.createContext("/api/fixtures/", (ex: HttpExchange) => respond(ex, s.fixturesJson))
    server.createContext("/api/element-summary/", (ex: HttpExchange) => {
      val id = ex.getRequestURI.getPath.split("/").filter(_.nonEmpty).last.toLong
      respond(ex, s.playerDocs.getOrElse(id, "{}"))
    })
    server.start()
  }

  override def teardown(): Unit = if (server != null) {
    server.stop(0)
    server.getExecutor.asInstanceOf[java.util.concurrent.ExecutorService].shutdownNow()
    server = null
  }

  def run(spark: SparkSession, ctx: Harness.Ctx, out: Harness.Outcome): Unit = ctx.span("etl.run") {
    val base = s"http://127.0.0.1:${server.getAddress.getPort}"
    val expected = season.expectedCounts
    val gets = spark.sparkContext.longAccumulator("http_gets")
    val getMs = spark.sparkContext.collectionAccumulator[java.lang.Double]("http_get_ms")
    val landing = s"${o.work}/landing"
    val db = "perfbench_etl"
    val backend = new Properties()
    backend.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val proxy = new ProxyJdbcServer(s"jdbc:derby:memory:$db;create=true", backend)
    ProxyJdbcDriver.ensureRegistered()
    val fetcher: HttpFetcher =
      if (o.trace) new CountingFetcher(new JdkHttpFetcher(), gets, getMs)
      else new JdkHttpFetcher()
    // stage boundaries from the ETL's own log points
    var last = ctx.clock()
    val marks = Seq("Extract complete" -> "sources.extract",
      "Transform complete" -> "transform.stage", "Load complete" -> "load.stage").toMap
    val log: String => Unit = m => marks.get(m).foreach { name =>
      val now = ctx.clock()
      ctx.spans.foreach(_.add(name, last, now))
      last = now
    }
    out.attempted = 1
    try {
      val res = EtlRun.run(spark, fetcher, s"$base/api/bootstrap-static/",
        s"$base/api/fixtures/", s"$base/api/element-summary/%d/", landing,
        proxy.url, proxy.clientProps, JdbcSink.Derby, username = "perfbench",
        raiseErrors = true, loadDatetime = Timestamp.valueOf("2025-03-20 10:00:00"),
        log = log)
      val conn = DriverManager.getConnection(s"jdbc:derby:memory:$db")
      val counts = try expected.keys.map { t =>
        val rs = conn.createStatement().executeQuery(s"SELECT COUNT(*) FROM $t")
        rs.next()
        t -> rs.getLong(1)
      }.toMap finally conn.close()
      val bad = expected.filter { case (t, n) => counts.get(t).forall(_ != n) }
      val ok = out.check("etl table counts", bad.isEmpty,
        bad.map { case (t, n) => s"$t=${counts.getOrElse(t, -1L)} want $n" }.mkString(", ")) &
        out.check("etl gameweek_now", res.gameweekNow == season.gameweekNow,
          s"${res.gameweekNow} want ${season.gameweekNow}")
      if (!ok) out.failed = 1
      out.counters ++= Seq(
        "history_rows" -> expected("players_past"),
        "season_json_bytes" -> season.jsonBytes,
        "sources.http_gets" -> gets.value,
        "sources.http_get_ms_p50" -> Stats.median(getMs.value.asScala.map(_.doubleValue).toSeq),
        "sources.landing_bytes" -> Harness.du(landing),
        "load.rows" -> counts.values.sum)
    } finally {
      proxy.stop()
      try DriverManager.getConnection(s"jdbc:derby:memory:$db;drop=true")
      catch { case _: java.sql.SQLException => () }
      Harness.rmrf(new File(landing))
    }
  }
}

object QueryStream {
  /** The analyze/model queries, run in a seed-permuted order per pass. */
  val Queries: Seq[String] =
    Seq("q_league_table", "q_lag_features", "q_group_impute", "q_mad_outlier", "q_rrf_fusion")
  /** One stream file is due every `IntervalMs` during the measured window. */
  val IntervalMs = 6500
}

/** The read side after the load. Set-up bulk-builds the seed dedup index
  * the stream extends; that also brings the engine's scan, shuffle and
  * codegen paths up before the cold pass. The measured phase is one cold
  * and one warm pass of the analyze/model query mix, then open-loop
  * streaming curation for the measured window. One process, because
  * every fresh JVM pays tens of seconds of compilation before either part
  * does steady work. */
final class QueryStream(o: Harness.Opts) extends Workload {
  import QueryStream._
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private var root: String = _
  private var seedIndexS = 0.0

  def sizes: Map[String, Any] = Map("queries" -> Queries, "interval_ms" -> IntervalMs)

  def setup(spark: SparkSession, i: Int): Unit = {
    val all = SparkEntry.queries
    require(Queries.forall(all.contains), s"unknown query in $Queries")
    root = s"${o.work}/stream-$i"
    val t0 = System.nanoTime()
    val seedDocs = spark.read.parquet(s"${o.inputs}/seed/documents.parquet")
    require(seedDocs.schema == schema)
    DedupIndex.buildPersisted(spark, seedDocs, StreamingIngestDedup.versionDir(s"$root/index", 0))
    seedIndexS = Harness.secs(t0)
  }

  def run(spark: SparkSession, ctx: Harness.Ctx, out: Harness.Outcome): Unit = {
    out.counters("operators.seed_index_build_s") = seedIndexS
    queryPasses(spark, ctx, out)
    System.err.println("[perfbench] queries done")
    ctx.span("streaming.run") { streamCurate(spark, ctx, out) }
  }

  /** Order-insensitive digest: row count and a sum of per-row hashes,
    * with floating columns rounded so summation order cannot move it. */
  private def digest(df: DataFrame): (Long, Long) = {
    val cols = df.schema.fields.toSeq.map { f =>
      f.dataType match {
        case DoubleType | FloatType => round(col(s"`${f.name}`").cast("double"), 6)
        case _ => col(s"`${f.name}`")
      }
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(count(lit(1)), coalesce(sum(pmod(h, lit(1L << 40))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** One cold pass on an empty FrameCache root, then one warm pass, each
    * in a seed-permuted order; digests must agree across the passes. */
  private def queryPasses(spark: SparkSession, ctx: Harness.Ctx, out: Harness.Outcome): Unit = {
    val q = SparkEntry.queries
    val dir = s"${o.inputs}/warehouse"
    val indexRoot = sys.env("SPARK_GRAFT_INDEX_DIR")
    def assets = Option(new File(indexRoot).listFiles()).toSeq.flatten
      .count(_.getName.startsWith("asset-"))
    val digests = mutable.Map[String, (Long, Long)]()
    def pass(p: Int, label: String): Unit = ctx.span(s"queries.${label}_pass") {
      val order = new Random(o.seed * 1000003L + p).shuffle(Queries)
      var ok = true
      var passS = 0.0
      for (n <- order) {
        if (o.trace) spark.sparkContext.setJobGroup(n, n)
        val t0 = System.nanoTime()
        // one execution both materializes every output column (the hash
        // reads them all, so nothing is pruned) and yields the digest
        val d = ctx.span(s"queries.$n") { digest(q(n)(spark, dir)) }
        val s = Harness.secs(t0)
        if (o.trace) spark.sparkContext.clearJobGroup()
        System.err.println(f"[perfbench] $label pass $n: $s%.2f s")
        out.counters(s"queries.$n.${label}_s") = s
        passS += s
        ok &= out.check(s"$label pass $n digest", digests.getOrElseUpdate(n, d) == d && d._1 > 0,
          s"$d vs ${digests(n)}")
      }
      out.attempted += 1
      if (!ok) out.failed += 1
      // pass time = the sum of the queries' own wall times
      out.counters(s"queries.${label}_pass_s") = passS
    }
    pass(0, "cold")
    val builtCold = assets
    pass(1, "warm")
    val builtWarm = assets - builtCold
    out.check("framecache warm builds", builtWarm == 0, s"$builtWarm assets built by the warm pass")
    out.counters ++= Seq(
      "operators.framecache_builds_cold" -> builtCold,
      "operators.framecache_builds_warm" -> builtWarm,
      "digests" -> digests.map { case (n, (r, h)) => n -> s"$r:$h" }.toMap)
  }

  /** Open-loop streaming curation: a generator thread drops one batch
    * file per interval into the file source feeding CurationPipeline. */
  private def streamCurate(spark: SparkSession, ctx: Harness.Ctx, out: Harness.Outcome): Unit = {
    val staged = Option(new File(s"${o.inputs}/batches").listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet")).sortBy(_.getName)
    val watch = new File(s"$root/incoming")
    watch.mkdirs()
    val t0 = System.nanoTime()
    def now = Harness.secs(t0)
    val progress = new ProgressListener(() => now)
    spark.streams.addListener(progress)
    val due = mutable.ArrayBuffer[Double]()
    val late = mutable.ArrayBuffer[Double]()
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(watch.getPath)
    val query = CurationPipeline.start(s"$root/index", s"$root/decisions", stream,
      trigger = Trigger.ProcessingTime(0L), checkpointLocation = Some(s"$root/ckpt"))
    // open loop: file k is due at k * interval, whatever the pipeline does
    val gen = new Thread(() => {
      var k = 0
      while (k < staged.size && k * IntervalMs / 1e3 < o.seconds) {
        val d = k * IntervalMs / 1e3
        val wait = d - now
        if (wait > 0) Thread.sleep((wait * 1000).toLong)
        due += d
        Files.move(staged(k).toPath, Paths.get(watch.getPath, staged(k).getName),
          StandardCopyOption.ATOMIC_MOVE)
        late += now - d
        k += 1
      }
    }, "perfbench-generator")
    gen.start()
    gen.join()
    val dropped = due.size
    val backlogAtEnd = dropped - progress.batches.size
    // drain: every dropped file must be decided before the checks
    val drainDeadline = System.nanoTime() + 120L * 1000000000L
    while (progress.batches.size < dropped && System.nanoTime() < drainDeadline &&
      query.exception.isEmpty) Thread.sleep(20)
    query.stop()
    spark.streams.removeListener(progress)
    val committedAt = progress.all.map(b => b.id -> b.committedAt).toMap
    val lat = (0 until dropped).flatMap(b => committedAt.get(b.toLong).map(_ - due(b)))
    out.check("stream all batches committed", lat.size == dropped,
      s"${lat.size} of $dropped committed; ${query.exception.map(_.getMessage)}")
    out.ops ++= lat
    out.attempted += dropped
    out.failed += dropped - lat.size
    // every streamed doc decided exactly once
    val droppedIds = spark.read.parquet(staged.take(dropped).map(_.getName)
      .map(n => s"${watch.getPath}/$n"): _*).select("doc_id")
    val dec = spark.read.parquet(s"$root/decisions")
    val nDropped = droppedIds.count()
    val nDec = dec.count()
    val nDistinct = dec.select("doc_id").distinct().count()
    val missing = droppedIds.join(dec, Seq("doc_id"), "left_anti").count()
    val admitted = dec.filter(col("admitted")).count()
    val ok = out.check("stream decided exactly once",
      nDec == nDropped && nDistinct == nDropped && missing == 0,
      s"decisions $nDec distinct $nDistinct docs $nDropped missing $missing")
    if (!ok) out.failed += 1
    val batches = progress.all.filter(_.id < dropped)
    def durMed(k: String) = Stats.median(batches.map(_.durations.getOrElse(k, 0L).toDouble))
    val trig = batches.map(b => b.id -> b.durations.getOrElse("triggerExecution", 0L) / 1e3).toMap
    val queueWait = lat.indices.flatMap(b => trig.get(b.toLong).map(t => math.max(0.0, lat(b) - t)))
    val third = math.max(1, lat.size / 3)
    val lastVersion = Option(new File(s"$root/index").listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("v")).maxByOption(_.getName.drop(1).toInt)
    ctx.spans.foreach { sp =>
      val base = sp.now - now
      (0 until lat.size).foreach(b =>
        sp.add("streaming.batch", base + due(b), base + due(b) + lat(b)))
    }
    out.counters ++= Seq(
      "streaming.first_batch_s" -> lat.headOption.getOrElse(0.0),
      "docs_dropped" -> nDropped, "admitted" -> admitted, "files_dropped" -> dropped,
      "streaming.add_batch_ms_p50" -> durMed("addBatch"),
      "streaming.planning_ms_p50" -> durMed("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> durMed("walCommit"),
      "streaming.trigger_ms_p50" -> durMed("triggerExecution"),
      "streaming.queue_wait_ms_p50" -> Stats.median(queueWait) * 1e3,
      "streaming.index_bytes_end" -> lastVersion.map(f => Harness.du(f.getPath)).getOrElse(0L),
      "streaming.tail_over_head" ->
        (Stats.median(lat.takeRight(third)) / math.max(1e-9, Stats.median(lat.take(third)))),
      "streaming.generator_late_ms_max" -> (if (late.isEmpty) 0.0 else late.max * 1e3),
      "streaming.backlog_files_end" -> backlogAtEnd)
  }
}

/** Order statistics shared by the harness. */
object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}

/** Checks the season generator against the ETL's contracts: all three
  * raw documents parse under [[FplSchemas]] with zero corrupt records,
  * and the values the load DDL checks hold. Prints one line per check
  * and exits non-zero on any failure.
  *
  * Usage: SelfTest <workDir> <seed> <players>
  */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val Array(work, seedS, playersS) = args
    val season = new Season(seedS.toLong, playersS.toInt)
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false").config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val players = season.playerDocs.toSeq.sortBy(_._1)
      .map { case (id, d) => s"""{"player_id":$id,${d.trim.drop(1)}""" }
      .mkString("[\n", ",\n", "\n]")
    var ok = true
    val parsed = mutable.Map[String, DataFrame]()
    def check(name: String, cond: Boolean): Unit = {
      println(s"${if (cond) "ok  " else "FAIL"} $name")
      ok &= cond
    }
    for ((name, body, schema) <- Seq(
        ("main", season.mainJson, FplSchemas.mainRaw),
        ("fixtures", season.fixturesJson, FplSchemas.fixturesRaw),
        ("players", players, FplSchemas.playersRaw))) {
      val p = Paths.get(work, s"$name.json")
      Files.writeString(p, body)
      val df = spark.read
        .schema(schema.add(StructField("_corrupt", StringType)))
        .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_corrupt")
        .option("multiLine", true).json(p.toString).cache()
      val rows = df.count()
      val corrupt = df.filter(col("_corrupt").isNotNull).count()
      check(s"$name parses: $rows rows, $corrupt corrupt", rows > 0 && corrupt == 0)
      parsed(name) = df
    }
    val fixturesDf = parsed("fixtures")
    val futureDf = parsed("players").select(explode(col("fixtures")).as("f"))
    check("fixture difficulty <= 4", fixturesDf.filter(
      col("team_h_difficulty") > 4 || col("team_a_difficulty") > 4).count() == 0)
    check("player fixture difficulty <= 4", futureDf.filter(col("f.difficulty") > 4).count() == 0)
    check("fixture minutes <= 90", fixturesDf.filter(col("minutes") > 90).count() == 0)
    check("at most 20 teams", parsed("main").select(explode(col("teams")).as("t"))
      .count() <= 20)
    val fx = season.fixtures
    check("380 fixtures", fx.size == 380)
    check("some fixtures postponed", fx.exists(_.gw.isEmpty))
    check("each team plays 38", (1 to 20).forall(t => fx.count(f => f.home == t || f.away == t) == 38))
    check("expected counts cover every loaded table", season.expectedCounts.size == 13)
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
