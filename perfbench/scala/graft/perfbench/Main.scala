package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.io.Io
import graft.jobs.TlbMetrics
import graft.model.Schemas
import graft.ops.{Correlate, DotPath, Enrich, Mappings, Metrics, Sessionize, Staging}
import graft.pipeline.{PipelineCompiler, PipelineSpec}

/** JVM side of the benchmark (`perfbench/run.py` builds and launches it).
  *
  * Drives one workload through the engine's public entry points and writes
  * what it observed to `<work>/result.json`: the set-up time, one record per
  * hour or query run (timings, `Staging` calls, and for hours the output
  * digests `run.py` checks against the model) and, when tracing, spans with
  * the Spark counters attributed to them.
  *
  * Usage: Main <workload> <work dir> <seconds> <trace 0|1> <fixture dir>
  *   <pipeline.yaml> <interval seconds> <warm-up hours or passes> <hour or query>...
  * Inputs of the generated hours are in `<work>/gen`. Warm-up hours (for
  * hour_batch, passes over the fixture hour, then two over its own hour)
  * bring the JIT closer to steady state; they are checked but not timed.
  * The ops_headline tables are in `<work>/gen/ops`.
  */
object Main {
  val FixtureHour = "2024111612"
  val Cores = 4

  private val t0 = System.nanoTime()
  def now: Double = (System.nanoTime() - t0) / 1e9

  /** Where one hour's inputs and outputs live. */
  final case class Layout(userDir: String, sideDir: String, outDir: String) {
    def tlbPath(hour: String): String = s"$outDir/tlb_metrics_$hour.json"
    def resolver(onResolve: String => Unit): PipelineCompiler.PathResolver = {
      case s"s3a://demo-trace-bucket/traces/$h/" => s"$sideDir/trace_$h.json"
      case s"s3a://demo-log-bucket/logs/$h/"     => s"$sideDir/log_$h.json"
      case p =>
        onResolve(p)
        p.replace("{in}", userDir).replace("{out}", outDir)
    }
  }

  /** One hour, or one query run (`hour` is then the query's name). */
  final class HourObs(val hour: String, val kind: String) {
    var seconds, due, published, started, done = Double.NaN
    var pass = -1L
    var stagingCalls = 0L
    var error: String = null
    var tlbSha: String = null
    var stages: Seq[(String, Long, Long)] = Nil
    def json: String = Json.obj(
      "hour" -> hour, "kind" -> kind, "seconds" -> seconds, "due" -> due,
      "published" -> published, "started" -> started, "done" -> done, "error" -> Option(error),
      "pass" -> pass, "staging_calls" -> stagingCalls,
      "tlb_sha256" -> Option(tlbSha),
      "stages" -> Json.Raw(Json.obj(stages.map { case (s, rows, hits) =>
        s -> Json.Raw(Json.obj("rows" -> rows, "hits" -> hits))
      }: _*)))
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, work, seconds, trace, fixtures, yamlPath, interval, warm, _*) = argv
    val hours = argv.drop(8).toSeq
    val yaml = new String(Files.readAllBytes(Paths.get(yamlPath)), "UTF-8")
    val bench = new Bench(work, fixtures, yaml, seconds.toDouble, trace == "1")
    val result = workload match {
      case "hour_batch"   => bench.batch(hours.head, warm.toInt)
      case "hour_arrival" => bench.arrival(hours, warm.toInt, interval.toDouble)
      case "ops_headline" => bench.ops(hours, warm.toInt)
      case other          => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Files.writeString(Paths.get(work, "result.json"), result)
    System.exit(0)
  }

  def sha256(p: String): String =
    MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(Paths.get(p)))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Rows and enrich hits of a stage's JSON-lines output: the writer drops
    * null fields, so a record carries `marker` only when the mapping hit.
    */
  def countOutput(dir: String, marker: String): (Long, Long) = {
    var rows, hits = 0L
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-"))
      .foreach(f => Files.lines(f).forEach { l =>
        rows += 1
        if (marker != null && l.contains(marker)) hits += 1
      })
    (rows, if (marker == null) -1L else hits)
  }

  /** Publishes a file under its final name by write-then-rename, so a file
    * source watching `dir` never lists a partial file.
    */
  def publish(src: Path, dir: String): Unit = {
    val tmp = Paths.get(dir, "." + src.getFileName + ".tmp")
    Files.copy(src, tmp, StandardCopyOption.REPLACE_EXISTING)
    Files.move(tmp, Paths.get(dir, src.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
  }
}

final class Bench(work: String, fixtures: String, yaml: String, seconds: Double, tracing: Boolean) {
  import Main._

  private var spark: SparkSession = _
  private var tracer: Tracer = _
  private var setupSeconds = Double.NaN
  private val obs = mutable.ArrayBuffer.empty[HourObs]
  private val setupErrors = mutable.ArrayBuffer.empty[String]

  private def session(): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/setup/checkpoint")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def span[T](name: String)(body: => T): T =
    if (tracer == null) body else tracer.span(name)(body)

  private def layoutFor(dir: String, userDir: String, sideDir: String): Layout = {
    Files.createDirectories(Paths.get(dir, "out"))
    Files.createDirectories(Paths.get(sideDir))
    Layout(userDir, sideDir, s"$dir/out")
  }

  private def tlb(hour: String, l: Layout, path: String): Unit = {
    val m = TlbMetrics.compute(
      Io.readJsonArray(spark, s"${l.userDir}/user_exp_$hour.json", Schemas.userExp),
      Io.readJsonArray(spark, s"${l.sideDir}/trace_$hour.json", Schemas.trace),
      Io.readJsonArray(spark, s"${l.sideDir}/log_$hour.json", Schemas.log))
    TlbMetrics.writeGoldenJson(m, path)
  }

  /** The shipped path for one hour: spec → three stages → TLB → JSON. */
  private def realHour(hour: String, l: Layout): Unit = span("hour") {
    val spec = span("pipeline.plan") {
      val s = PipelineSpec.fromYaml(yaml)
      PipelineCompiler.orderStages(s)
      s
    }
    span("pipeline.run")(PipelineCompiler.run(spark, spec, hour, l.resolver(_ => ())))
    span("tlb")(tlb(hour, l, l.tlbPath(hour)))
  }

  private def mat(df: DataFrame): DataFrame = df.localCheckpoint(eager = true)

  /** The same hour driven layer by layer through the public functions. Each
    * layer's input is materialized by its own child span, so a layer span's
    * self time is that layer's work alone. The side counts (enrich hits,
    * mapping pairs, correlated rows) run after the hour, outside any span.
    */
  private def layeredHour(hour: String, l: Layout): Seq[(String, Double)] = {
    val side = mutable.ArrayBuffer.empty[() => (String, Double)]
    tracer.span("hour.layered") {
      val spec = tracer.span("pipeline.plan")(PipelineCompiler.orderStages(PipelineSpec.fromYaml(yaml)))
      val resolve = l.resolver(_ => ())
      var mappings = Map.empty[String, DataFrame]
      spec.foreach { stage =>
        tracer.span(s"pipeline.${stage.name}") {
          val path = resolve(Io.templated(stage.input match {
            case graft.pipeline.LocalFileInput(p)   => p
            case graft.pipeline.S3Input(b, prefix) => s"s3a://$b/$prefix"
          }, hour))
          val raw = tracer.span("io.read")(mat(spark.read.option("multiLine", value = true).json(path)))
          val enriched = stage.mappingRead match {
            case Some(r) =>
              val m = mappings(r.mappingName)
              val e = tracer.span("enrich")(mat(Enrich(raw, m, r.keyField)))
              val fields = m.schema("value").dataType.asInstanceOf[org.apache.spark.sql.types.StructType].fieldNames
              side += (() => "enrich.hits" -> e.where(fields.map(f => col(f).isNotNull).reduce(_ || _)).count().toDouble)
              side += (() => "enrich.rows" -> e.count().toDouble)
              e
            case None => raw
          }
          stage.mappingWrite.foreach { w =>
            val m = tracer.span("mappings")(mat(Mappings.extract(enriched, w.keyPath, w.valueFields, w.single)))
            mappings += w.mappingName -> m
            side += (() => {
              val key = DotPath.resolve(enriched, w.keyPath)
              val keyed = DotPath.resolvedType(enriched.schema, w.keyPath) match {
                case Some(_: org.apache.spark.sql.types.ArrayType) => enriched.select(explode(key).as("k"))
                case _ => enriched.select(key.as("k"))
              }
              "mappings.pairs" -> keyed.where(col("k").isNotNull && col("k") =!= "").count().toDouble
            })
            side += (() => "mappings.keys" -> m.count().toDouble)
          }
          stage.outputFile.foreach { out =>
            tracer.span("io.write")(Io.writeJson(enriched, resolve(Io.templated(out, hour)), singleFile = true))
          }
        }
      }
      tracer.span("tlb") {
        val ev = tracer.span("io.read")(mat(Io.readJsonArray(spark, s"${l.userDir}/user_exp_$hour.json", Schemas.userExp)))
        val tr = tracer.span("io.read")(mat(Io.readJsonArray(spark, s"${l.sideDir}/trace_$hour.json", Schemas.trace)))
        val lg = tracer.span("io.read")(mat(Io.readJsonArray(spark, s"${l.sideDir}/log_$hour.json", Schemas.log)))
        val sessions = tracer.span("sessionize")(mat(Sessionize.pageViewTime(
          ev.select(col("clientId"), to_timestamp(col("timestamp")).as("timestamp"), col("eventType"), col("eventId")))))
        val correlated = tracer.span("correlate")(mat(Correlate(ev, tr, lg)))
        side += (() => "correlate.rows_out" -> correlated.count().toDouble)
        val counts = tracer.span("metrics.counts")(mat(Metrics.conditionalCounts(correlated)))
        val result = tracer.span("metrics.zerofill")(mat(Metrics.zeroFill(ev, sessions, counts).select(
          col("clientId"), col("page_view_time"), col("retry_count"), col("timeout_count"), col("error_count"))))
        tracer.span("tlb.json")(TlbMetrics.writeGoldenJson(result, l.tlbPath(hour)))
      }
    }
    side.map(_()).groupMapReduce(_._1)(_._2)(_ + _).toSeq
  }

  private val sideCounts = mutable.ArrayBuffer.empty[Seq[(String, Double)]]

  /** Runs `body` as one hour or query run, timed; a throw marks it failed. */
  private def timedHour(o: HourObs)(body: => Unit): Unit = {
    val calls = Staging.stageCalls.get()
    val s = now
    try {
      body
      o.seconds = now - s
    } catch { case e: Throwable => o.error = s"${e.getClass.getName}: ${e.getMessage}".take(500) }
    o.stagingCalls = Staging.stageCalls.get() - calls
    obs += o
  }

  private def observe(o: HourObs, l: Layout): Unit = if (o.error == null) {
    try {
      o.tlbSha = sha256(l.tlbPath(o.hour))
      o.stages = Seq("stage_1" -> ("user_exp", null), "stage_2" -> ("trace", "\"clientId\":"),
        "stage_3" -> ("log", "\"traceId\":")).map { case (s, (name, marker)) =>
        val (rows, hits) = countOutput(s"${l.outDir}/${name}_processed_${o.hour}.json", marker)
        (s, rows, hits)
      }
    } catch { case e: Throwable => o.error = s"output unreadable: ${e.getMessage}".take(500) }
  }

  private def checkWarmup(l: Layout): Unit = {
    val got = sha256(l.tlbPath(FixtureHour))
    val want = sha256(s"$fixtures/tlb_metrics_$FixtureHour.json")
    if (got != want) setupErrors += "set-up: fixture hour TLB differs from the golden file"
  }

  /** The set-up, timed from JVM start: a session plus the untimed warm-up
    * `warm` runs in `<work>/setup`.
    */
  private def setup[T](warm: String => T): T = {
    spark = session()
    val r = warm(s"$work/setup")
    setupSeconds = ManagementFactory.getRuntimeMXBean.getUptime / 1e3
    r
  }

  private var stagingAtBegin = 0L

  private def begin(): Unit = {
    if (tracing) {
      tracer = new Tracer(spark.sparkContext, "r")
      spark.sparkContext.addSparkListener(tracer)
      spark.listenerManager.register(tracer)
    }
    stagingAtBegin = Staging.stageCalls.get()
  }

  private def finish(groups: Map[String, String] = Map.empty, extra: Seq[(String, Any)] = Nil): String = {
    val staging = Staging.stageCalls.get() - stagingAtBegin
    val traceJson = if (tracer == null) "null" else {
      Thread.sleep(300) // let the listener bus deliver the last task-end events
      tracer.json(groups)
    }
    spark.stop()
    Json.obj(Seq(
      "setup_s" -> setupSeconds,
      "setup_errors" -> setupErrors.toSeq,
      "hours" -> obs.toSeq.map(o => Json.Raw(o.json)),
      "side_counts" -> sideCounts.toSeq.map(m => Json.Raw(Json.obj(m: _*))),
      "staging_calls" -> staging,
      "trace" -> Json.Raw(traceJson)) ++ extra: _*)
  }

  /** Deletes and recreates the layout's output directory, so a pass that
    * writes nothing leaves nothing for [[observe]] to find.
    */
  private def freshOut(l: Layout): Unit = {
    val out = Paths.get(l.outDir)
    if (Files.exists(out))
      Files.walk(out).sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.delete(p))
    Files.createDirectories(out)
  }

  /** Closed loop over one large hour, each pass into an emptied output
    * directory. Before the window, `warmPasses` more passes over the small
    * fixture hour and two over the large hour run untimed: the JIT keeps
    * speeding up the per-hour planning and scheduling code for about eight
    * passes, and a fixture pass warms it at half the cost of a large one.
    * After a single large pass, the next one was still the slowest of the
    * window in most runs.
    * With tracing, each cycle runs the hour untraced, traced, traced,
    * untraced (so a drift in speed cancels out of the tracing overhead),
    * then layer by layer.
    */
  def batch(hour: String, warmPasses: Int): String = {
    val fixtureLayout = setup { dir =>
      val l = layoutFor(dir, fixtures, fixtures)
      realHour(FixtureHour, l)
      checkWarmup(l)
      l
    }
    for (_ <- 0 until warmPasses) {
      freshOut(fixtureLayout)
      realHour(FixtureHour, fixtureLayout)
      checkWarmup(fixtureLayout)
    }
    val gen = s"$work/gen"
    val lay = layoutFor(s"$work/batch", gen, gen)
    begin()
    val tracerOff = tracer
    tracer = null
    def pass(kind: String): Unit = {
      tracer = if (kind == "real" || kind == "warmup") null else tracerOff
      freshOut(lay)
      val o = new HourObs(hour, kind)
      timedHour(o)(if (kind == "layered") sideCounts += layeredHour(hour, lay) else realHour(hour, lay))
      observe(o, lay)
    }
    for (_ <- 1 to 2) pass("warmup")
    val start = now
    val cycle = if (tracing) Seq("real", "traced", "traced", "real", "layered") else Seq("real")
    // Stop before a cycle that would end past the window, judged by the last.
    var last = 0.0
    do {
      val c = now
      cycle.foreach(pass)
      last = now - c
    } while (now - start + last <= seconds)
    tracer = tracerOff
    finish()
  }

  /** Open loop: hours are published on a fixed schedule into the watch
    * directory of a running `PipelineCompiler.runOnArrival` query; each
    * hour's `onHour` callback writes that hour's TLB file.
    */
  def arrival(hours: Seq[String], warmHours: Int, interval: Double): String = {
    val started = new ConcurrentHashMap[String, java.lang.Double]()
    val done = new ConcurrentHashMap[String, java.lang.Double]()
    val tlbErrors = new ConcurrentHashMap[String, String]()
    val HourOf = ".*user_exp_(\\d{10})\\.json".r
    var q: StreamingQuery = null
    val l = setup { dir =>
      val watch = s"$dir/watch"
      Files.createDirectories(Paths.get(watch))
      val lay = layoutFor(dir, watch, s"$work/landing")
      for (f <- Seq("trace", "log"))
        Files.copy(Paths.get(fixtures, s"${f}_$FixtureHour.json"), Paths.get(lay.sideDir, s"${f}_$FixtureHour.json"),
          StandardCopyOption.REPLACE_EXISTING)
      q = PipelineCompiler.runOnArrival(spark, PipelineSpec.fromYaml(yaml), watch,
        { case HourOf(h) => Some(h); case _ => None },
        lay.resolver { case HourOf(h) => started.putIfAbsent(h, now); case _ => },
        onHour = h => {
          try span("tlb")(tlb(h, lay, lay.tlbPath(h)))
          catch { case e: Throwable => tlbErrors.put(h, s"${e.getClass.getName}: ${e.getMessage}".take(500)) }
          done.put(h, now)
        })
      publish(Paths.get(fixtures, s"user_exp_$FixtureHour.json"), watch)
      while (!done.containsKey(FixtureHour) && q.exception.isEmpty && q.isActive) Thread.sleep(5)
      q.exception.foreach(e => throw e)
      done.remove(FixtureHour)
      started.remove(FixtureHour)
      checkWarmup(lay)
      lay
    }
    val gen = Paths.get(work, "gen")
    // An hour's trace and log files land first; its user_exp file, which
    // triggers the hour, appears last.
    def drop(o: HourObs): Unit = {
      for (f <- Seq("trace", "log"))
        Files.move(gen.resolve(s"${f}_${o.hour}.json"), Paths.get(l.sideDir, s"${f}_${o.hour}.json"),
          StandardCopyOption.ATOMIC_MOVE)
      publish(gen.resolve(s"user_exp_${o.hour}.json"), l.userDir)
      o.published = now
    }
    def await(os: Seq[HourObs]): Unit = {
      val deadline = now + 60
      while (os.exists(o => !done.containsKey(o.hour)) && q.isActive && now < deadline) Thread.sleep(5)
    }
    val warm = hours.take(warmHours).map { h =>
      val o = new HourObs(h, "warmup")
      o.due = now
      drop(o)
      await(Seq(o))
      o
    }
    begin()
    val first = now + 0.2
    val hourObs = hours.drop(warmHours).zipWithIndex.map { case (h, i) =>
      val o = new HourObs(h, "arrival")
      o.due = first + i * interval
      val wait = o.due - now
      if (wait > 0) Thread.sleep((wait * 1000).toLong)
      drop(o)
      o
    }
    await(hourObs)
    val streamGroup = q.runId.toString
    q.stop()
    (warm ++ hourObs).foreach { o =>
      Option(started.get(o.hour)).foreach(o.started = _)
      Option(done.get(o.hour)).foreach(o.done = _)
      o.error = Option(tlbErrors.get(o.hour))
        .orElse(if (done.containsKey(o.hour)) None
          else Some(q.exception.map(_.getMessage.take(500)).getOrElse("hour not completed within 60 s")))
        .orNull
      if (o.error == null) o.seconds = o.done - o.started
      observe(o, l)
      obs += o
    }
    if (tracing) {
      val lay = layoutFor(s"$work/layered", l.userDir, l.sideDir)
      hourObs.take(3).map(_.hour).foreach { h =>
        val y = new HourObs(h, "layered")
        timedHour(y)(sideCounts += layeredHour(h, lay))
        observe(y, lay)
      }
    }
    finish(Map(streamGroup -> "arrival.stream"))
  }

  /** Drops what the previous query left in the block manager (Staging's
    * checkpointed frames, cached relations), as `graft.Bench` does between
    * its timed runs.
    */
  private def evictDebris(): Unit = {
    val persisted = spark.sparkContext.getPersistentRDDs
    if (persisted.nonEmpty || !spark.sharedState.cacheManager.isEmpty) {
      spark.catalog.clearCache()
      persisted.values.foreach(_.unpersist(blocking = true))
    }
  }

  /** Closed loop of passes over `queries` (in the given order), each query
    * forced through a `noop` write. The set-up's warm-up is `warmPasses`
    * passes, checked but not timed; the first of them writes each query's
    * output as parquet into `<work>/verify/<query>`, which `run.py` checks
    * against the query's oracle SQL. With tracing, passes alternate
    * untraced, traced, traced, untraced.
    */
  def ops(queries: Seq[String], warmPasses: Int): String = {
    val all = SparkEntry.queries
    val dir = s"$work/gen/ops"
    var tracerOff: Tracer = null
    var passes = 0L
    def pass(kind: String): Unit = {
      tracer = if (kind == "traced") tracerOff else null
      span("ops.pass") {
        queries.foreach { q =>
          evictDebris()
          val o = new HourObs(q, kind)
          o.pass = passes
          timedHour(o)(span(s"ops.$q") {
            val w = all(q)(spark, dir).write.mode("overwrite")
            if (kind == "verify") w.parquet(s"$work/verify/$q") else w.format("noop").save()
          })
        }
      }
      passes += 1
    }
    setup(_ => (0 until warmPasses).foreach(i => pass(if (i == 0) "verify" else "warmup")))
    begin()
    tracerOff = tracer
    val start = now
    val cycle = if (tracing) Seq("real", "traced", "traced", "real") else Seq("real")
    var last = 0.0
    do {
      val c = now
      cycle.foreach(pass)
      last = now - c
    } while (now - start + last <= seconds)
    tracer = tracerOff
    val oracle = SparkEntry.oracleSql
    finish(extra = Seq(
      "oracle_sql" -> Json.Raw(Json.obj(queries.flatMap(q => oracle.get(q).map(q -> _)): _*))))
  }
}
