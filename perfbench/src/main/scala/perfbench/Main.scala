package perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress, Trigger}

import graft.SparkEntry
import graft.ops.{CdcOps, PgOutputOps}
import graft.stream.{EsBulkSink, EsHttpConfig, Metrics, PgCaptureStream, Pipeline, ResponseHandler}

/** The JVM half of the benchmark: builds one workload's inputs from the
  * seed, sets up, measures, checks the outputs, and writes the figures
  * to `--result` as JSON for `run.py`.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --result FILE
  */
object Main {

  val Cores = 4

  /** A CDC leg: `per` inputs per segment; the backlog holds
    * `seconds × nominalPerS` inputs (at least two segments), so a drain
    * lasts about `seconds` at the rate measured on the 4-core box.
    */
  final case class Cdc(kind: String, per: Int, nominalPerS: Double) {
    def segments(seconds: Int): Int =
      math.max(2, math.ceil(seconds * nominalPerS / per).toInt)
  }

  val CdcWorkloads: Map[String, Cdc] = Map(
    "wal_backlog" -> Cdc("wal", 250000, 86000),
    "pgoutput_backlog" -> Cdc("pg", 100000, 21500))
  val WarmSegments = 2
  /** The HTTP leg measured in `wal_backlog`'s traced run. */
  val Ticker = Cdc("http", 10000, 4800)
  val TickerSegments = 6

  /** `SparkEntry.queries` keys timed by [[opsLayer]]: the heaviest CPU
    * key of five ops modules. `knn_graph` and `contrastive_triplets` are
    * left out: their timed plan reads their own warm shared artifact.
    */
  val CurationKeys: Seq[String] = Seq("dedup_winnow", "corpus_to_sequences",
    "bm25_topk", "quality_trigram_fluency", "ann_recall")
  val CurationDocs = 300
  val CurationVecs = 200

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, result: String)

  /** Figures in emission order: name → (value, unit). */
  final class Out {
    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    var attempted = 0L
    var failed = 0L
    val notes = mutable.LinkedHashMap.empty[String, Any]
    def update(name: String, v: (Double, String)): Unit = metrics(name) = v
    def check(ok: Boolean, what: String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; System.err.println(s"[perfbench] check failed: $what") }
    }
  }

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("work"), kv("result"))
    val w = CdcWorkloads.getOrElse(o.workload,
      throw new IllegalArgumentException(s"unknown workload ${o.workload}"))
    val out = new Out
    val t0 = System.nanoTime()
    var spark = session(o, Cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try spark = runCdc(spark, o, w, sessionS, out)
    finally spark.stop()
    writeResult(o.result, out)
  }

  def session(o: Opts, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  def jitMs: Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  // ================================================================ CDC

  /** One drain's outcome: the query's progress per committed batch. */
  final case class Drain(dir: String, startMs: Double, wall: Double, cpu: Double,
      gc: Double, jit: Double, batches: Seq[Long], progress: Seq[StreamingQueryProgress],
      error: Option[Throwable]) {
    def walls: Seq[Double] = progress.map(p => dur(p, "triggerExecution"))
  }
  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.longValue / 1000.0).getOrElse(0.0)

  final class Ctx(val o: Opts, val w: Cdc, val progress: ProgressLog,
      val stub: Option[StubEs])

  private val drains = new java.util.concurrent.atomic.AtomicInteger

  /** Drains `src` into fresh output dirs under `work` and waits for the
    * query to end.
    */
  def drain(spark: SparkSession, c: Ctx, src: String, cores: Int): Drain = {
    val dir = s"${c.o.work}/drain${drains.incrementAndGet()}"
    val (bulk, dlq, ckpt) = (s"$dir/bulk", s"$dir/dlq", s"$dir/ckpt")
    val cpu0 = cpuNs
    val gc0 = gcMs
    val jit0 = jitMs
    val startMs = System.currentTimeMillis().toDouble
    val t0 = System.nanoTime()
    val q: StreamingQuery = c.w.kind match {
      case "wal" =>
        Pipeline.run(spark, src, bulk, dlq, ckpt, concurrentRequest = cores,
          trigger = Trigger.AvailableNow())
      case "pg" =>
        PgCaptureStream.run(spark, src, bulk, dlq, ckpt, Gen.PgMapping,
          concurrentRequest = cores, trigger = Trigger.AvailableNow())
      case "http" =>
        Pipeline.runHttp(spark, httpConf(cores), src, httpClient(c), dlq, ckpt,
          trigger = Some(Trigger.AvailableNow()))
    }
    val error =
      try { q.awaitTermination(); q.exception }
      catch { case e: Throwable => Some(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val cpu = (cpuNs - cpu0) / 1e9
    val gc = (gcMs - gc0) / 1000.0
    val jit = (jitMs - jit0) / 1000.0
    error.foreach(e => System.err.println(s"[perfbench] drain failed: $e"))
    val batches = Check.committed(ckpt)
    Drain(dir, startMs, wall, cpu, gc, jit, batches, c.progress.of(q.runId, batches.toSet),
      error)
  }

  def httpConf(cores: Int): graft.conf.GraftConfig =
    graft.conf.GraftConfig(es = graft.conf.EsSinkConfig(
      tableIndexMapping = CdcOps.tableIndexMapping,
      concurrentRequest = cores, version = "8.0.0"))
  def httpClient(c: Ctx): EsHttpConfig =
    EsHttpConfig(Seq(c.stub.get.url), discoverNodesOnStart = false,
      retryBackoffBaseMs = 1)

  def act(c: Ctx): Long => Check.Act =
    if (c.w.kind == "pg") id => Check.pgAct(c.o.seed, id)
    else id => Check.walAct(c.o.seed, id)

  /** Checks one drain of `nSeg` segments against the reference fold:
    * final document state, dead-letter contents and action counters.
    */
  def checkDrain(spark: SparkSession, c: Ctx, d: Drain, nSeg: Int,
      counters0: Map[String, Long], out: Out): Unit = {
    out.check(d.error.isEmpty, s"drain ${d.dir} threw ${d.error}")
    out.check(d.batches.size == nSeg,
      s"${d.batches.size} of $nSeg batches committed in ${d.dir}")
    val exp = c.stub match {
      case Some(_) => Check.expected(nSeg, c.w.per, act(c),
        a => Check.rejects(c.o.seed, a.item))
      case None => Check.expected(nSeg, c.w.per, act(c))
    }
    val got = c.stub match {
      case Some(s) => s.docs.asScala.toMap
      case None => Check.foldPayloads(s"${d.dir}/bulk", d.batches)
    }
    val bad = Check.diff(got, exp.docs)
    out.attempted += (got.keySet ++ exp.docs.keySet).size
    out.failed += bad
    if (bad > 0) System.err.println(s"[perfbench] $bad documents differ in ${d.dir}")
    c.stub.foreach { s =>
      def bag(xs: Iterable[(String, String)]) =
        xs.groupBy(identity).view.mapValues(_.size).toMap
      val dlqDir = new File(s"${d.dir}/dlq")
      val dead =
        if (!dlqDir.exists()) Map.empty[(String, String), Int]
        else bag(spark.read.parquet(dlqDir.getPath).select("index_name", "doc_id")
          .collect().map(r => (r.getString(0), r.getString(1))))
      out.check(bag(s.rejected.asScala) == exp.rejected,
        "stub rejections differ from the seeded ones")
      out.check(dead == exp.rejected, "dead-letter differs from the seeded rejections")
    }
    val counters = Metrics.snapshot()
    exp.counts.foreach { case (k, n) =>
      val delta = counters.getOrElse(k, 0L) - counters0.getOrElse(k, 0L)
      out.check(delta >= n, s"counter $k moved $delta < $n actions")
    }
  }

  def stateOf(spark: SparkSession, bulk: String): Map[String, Double] = Map(
    "persistent_rdds" -> spark.sparkContext.getPersistentRDDs.size.toDouble,
    "storage_mb" -> spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum / 1e6,
    "threads" -> ManagementFactory.getThreadMXBean.getThreadCount.toDouble,
    "pgstate_versions" -> Option(new File(s"$bulk/_pgstate").listFiles()).toSeq
      .flatten.count(_.getName.startsWith("b_")).toDouble)

  def runCdc(spark0: SparkSession, o: Opts, w: Cdc, sessionS: Double,
      out: Out): SparkSession = {
    var spark = spark0
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    // a traced run drains a third of the backlog three times: untraced,
    // traced, untraced again
    val nSeg = w.segments(if (o.trace) o.seconds / 3 else o.seconds)
    val src = s"${o.work}/backlog"
    val warmSrc = s"${o.work}/warm"
    val (_, genS) = secs {
      if (w.kind == "pg") {
        Gen.pgSegments(spark, src, o.seed, nSeg, w.per)
        Gen.pgSegments(spark, warmSrc, o.seed + 7919, WarmSegments, w.per)
      } else {
        Gen.walSegments(spark, src, o.seed, nSeg, w.per)
        Gen.walSegments(spark, warmSrc, o.seed + 7919, WarmSegments, w.per)
      }
    }
    // the operator declares the segment size to the fan-out gate
    spark.conf.set(Pipeline.FanoutEventsPerFileHintConf, w.per.toString)
    val c = new Ctx(o, w, progress, None)
    // warm-up: a drain of two full-size segments into throw-away outputs,
    // so class loading and JIT settle before the timed drain
    val (_, warmS) = secs(drain(spark, c, warmSrc, Cores))
    out("setup_s") = (sessionS + genS + warmS, "s")
    System.err.println(f"[perfbench] setup: session $sessionS%.2f s, inputs $genS%.2f s, " +
      f"warm-up $warmS%.2f s")

    val st0 = stateOf(spark, "")
    val counters0 = Metrics.snapshot()
    val d = drain(spark, c, src, Cores)
    val st1 = stateOf(spark, s"${d.dir}/bulk")
    checkDrain(spark, c, d, nSeg, counters0, out)
    val eventsPerS = d.batches.size.toLong * w.per / d.wall
    out("events_per_s") = (eventsPerS, "1/s")
    out("batch_p50_s") = (median(d.walls), "s")
    out("cpu_s") = (d.cpu, "s")
    System.err.println(s"[perfbench] ${d.batches.size} batches: " +
      d.walls.map(x => f"$x%.2f").mkString(" ") + " s")
    if (!o.trace) return spark

    val trace = new JobTrace
    spark.sparkContext.addSparkListener(trace)
    spark.sparkContext.setLocalProperty("perfbench.tag", "drain")
    val counters1 = Metrics.snapshot()
    val td = drain(spark, c, src, Cores)
    spark.sparkContext.setLocalProperty("perfbench.tag", null)
    trace.settle()
    spark.sparkContext.removeSparkListener(trace)
    checkDrain(spark, c, td, nSeg, counters1, out)
    // the second untraced drain: trace.overhead compares the traced drain
    // with the mean of the drains before and after it, so the JVM warming
    // across the three drains cancels
    val counters2 = Metrics.snapshot()
    val d2 = drain(spark, c, src, Cores)
    checkDrain(spark, c, d2, nSeg, counters2, out)
    val untracedPerS = (eventsPerS + d2.batches.size.toLong * w.per / d2.wall) / 2
    val spans = mutable.ArrayBuffer.empty[Span]
    spans ++= drainSpans(td, trace)
    perLayerDrain(out, td, trace, untracedPerS, w)
    for (k <- Seq("persistent_rdds", "storage_mb", "threads", "pgstate_versions")) {
      val unit = if (k == "storage_mb") "MB" else "count"
      out(s"state.${k}_start") = (st0(k), unit)
      out(s"state.${k}_end") = (st1(k), unit)
    }
    val (replaySpans, replayS) = secs(replay(spark, c, src, nSeg, td, out))
    val (legSpans, legS) = secs(if (w.kind == "wal") httpLayer(spark, o, progress, out)
                                else opsLayer(spark, o, out))
    spans ++= replaySpans ++ legSpans
    Json.writeValue(new File(s"${o.result}.spans.json"), spans.toSeq)

    // single-core baseline: local[1], the first segment of the backlog
    spark.stop()
    spark = session(o, 1)
    spark.streams.addListener(progress)
    spark.conf.set(Pipeline.FanoutEventsPerFileHintConf, w.per.toString)
    val oneSrc = s"${o.work}/one-core"
    Gen.copySegments(src, oneSrc, 1)
    val counters3 = Metrics.snapshot()
    val one = drain(spark, c, oneSrc, 1)
    checkDrain(spark, c, one, 1, counters3, out)
    out("scaling.events_per_s_1core") = (one.batches.size.toLong * w.per / one.wall, "1/s")
    System.err.println(f"[perfbench] traced run: drains ${d.wall + td.wall + d2.wall}%.1f s, " +
      f"replay $replayS%.1f s, ${if (w.kind == "wal") "http" else "ops"} leg $legS%.1f s, " +
      f"one-core drain ${one.wall}%.1f s")
    spark
  }

  /** The HTTP transport (`Pipeline.runHttp` → `EsHttpSink` →
    * `EsHttpClient`) at the reference's ticker operating point: 10k-event
    * segments posted to a loopback stub `_bulk` server that rejects a
    * seeded ~1% of items, so the response demux and dead-letter path run
    * every batch. Checked like the file leg, plus the dead-letter.
    */
  def httpLayer(spark: SparkSession, o: Opts, progress: ProgressLog,
      out: Out): Seq[Span] = {
    val stub = new StubEs(o.seed, Cores)
    try {
      val c = new Ctx(o, Ticker, progress, Some(stub))
      val src = s"${o.work}/ticker"
      Gen.walSegments(spark, src, o.seed, TickerSegments, Ticker.per)
      spark.conf.set(Pipeline.FanoutEventsPerFileHintConf, Ticker.per.toString)
      val warmSrc = s"${o.work}/ticker-warm"
      Gen.copySegments(src, warmSrc, 1)
      drain(spark, c, warmSrc, Cores)
      stub.reset()
      val counters0 = Metrics.snapshot()
      val d = drain(spark, c, src, Cores)
      checkDrain(spark, c, d, TickerSegments, counters0, out)
      out("http.batch_p50_s") = (median(d.walls), "s")
      out("http.requests") = (stub.requests.get.toDouble, "count")
      out("http.request_mb") = (stub.requestBytes.get / 1e6, "MB")
      out("http.items") = (stub.items.get.toDouble, "count")
      out("http.items_rejected") = (stub.itemsRejected.get.toDouble, "count")
      out("http.server_busy_s") = (stub.busyNs.get / 1e9, "s")
      out("http.inflight_max") = (stub.inflightMax.get.toDouble, "count")
      out.check(stub.inflightMax.get <= Cores, "in-flight requests above concurrentRequest")
      d.progress.map { p =>
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
        Span("http.batch", start, start + dur(p, "triggerExecution") * 1000, "http", p.batchId)
      }
    } finally stub.stop()
  }

  /** Batch → engine phase → Spark job spans of one drain. Phases are laid
    * end to end in the engine's order inside the batch; jobs carry their
    * own start and end.
    */
  def drainSpans(d: Drain, trace: JobTrace): Seq[Span] = {
    val phases = Seq("latestOffset", "getBatch", "walCommit", "queryPlanning",
      "addBatch", "commitOffsets", "commit")
    val root = Span("drain", d.startMs, d.startMs + d.wall * 1000, "", -1)
    val batches = d.progress.flatMap { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val batch = Span("batch", start, start + dur(p, "triggerExecution") * 1000,
        "drain", p.batchId)
      var at = start
      val ph = phases.filter(k => p.durationMs.containsKey(k)).map { k =>
        val s = Span(k, at, at + dur(p, k) * 1000, "batch", p.batchId)
        at = s.endMs
        s
      }
      batch +: ph
    }
    val jobs = trace.jobsOf("drain").map(j =>
      Span(s"job ${j.file}", j.start.toDouble, j.end.toDouble, "addBatch", j.batch))
    (root +: batches) ++ jobs
  }

  def perLayerDrain(out: Out, d: Drain, trace: JobTrace,
      untracedPerS: Double, w: Cdc): Unit = {
    val nb = math.max(1, d.batches.size).toDouble
    def med(k: String) = median(d.progress.map(p => dur(p, k)))
    out("engine.batches") = (d.batches.size.toDouble, "count")
    out("engine.first_batch_s") = (d.walls.headOption.getOrElse(0.0), "s")
    out("engine.latest_offset_s") = (med("latestOffset"), "s")
    out("engine.planning_s") = (med("queryPlanning"), "s")
    out("engine.wal_commit_s") = (med("walCommit"), "s")
    out("engine.add_batch_s") = (med("addBatch"), "s")
    out("engine.commit_s") = (median(d.progress.map(p =>
      dur(p, "commitOffsets") + dur(p, "commit"))), "s")
    val jobs = trace.jobsOf("drain")
    val a = trace.agg("drain")
    out("spark.jobs_per_batch") = (jobs.size / nb, "count")
    out("spark.stages_per_batch") = (a.stages / nb, "count")
    out("spark.tasks_per_batch") = (a.tasks / nb, "count")
    out("spark.shuffle_write_mb") = (a.shuffleWrite / 1e6, "MB")
    out("spark.spill_mb") = (a.spill / 1e6, "MB")
    out("spark.gc_s") = (d.gc, "s")
    out("jvm.jit_s") = (d.jit, "s")
    for (f <- Seq("Pipeline.scala", "PgCaptureStream.scala", "EsHttpSink.scala")) {
      out(s"jobs_s.$f") = (jobs.filter(_.file == f).map(j => j.end - j.start).sum / 1000.0, "s")
    }
    out("jobs_s.other") = (jobs.filterNot(j => Set("Pipeline.scala",
      "PgCaptureStream.scala", "EsHttpSink.scala")(j.file))
      .map(j => j.end - j.start).sum / 1000.0, "s")
    val tracedPerS = d.batches.size.toLong * w.per / d.wall
    out("trace.overhead") = (tracedPerS / untracedPerS, "ratio")
  }

  /** Staged replay of one captured steady batch (the backlog's last
    * segment). Each stage is one layer's public function over the cached
    * output of the stage before, timed as a noop write (the second of two:
    * the first compiles the stage's plan, as the drain's earlier batches
    * did for the engine); its output is then cached, untimed, for the
    * next stage. The segment is first fanned out to the shuffle
    * partitions, as the engine does before its chain
    * (`Pipeline.changeStream` for a declared segment of at least
    * `FanoutMinEvents`, `PgCaptureStream.processBatch` always).
    * `sink.flush_s` is `EsBulkSink.writeBatch` over the cached actions; it
    * runs the dedup and encode stages again inside, so those two are its
    * breakdown and stay out of `replay.share_of_add_batch`.
    */
  def replay(spark: SparkSession, c: Ctx, src: String, nSeg: Int, d: Drain,
      out: Out): Seq[Span] = {
    val par = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val spans = mutable.ArrayBuffer.empty[Span]
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def timed(name: String)(f: => Unit): Double = {
      f
      val t0 = System.currentTimeMillis().toDouble
      val (_, s) = secs(f)
      spans += Span(name, t0, t0 + s * 1000, "replay", -1)
      out(name) = (s, "s")
      s
    }
    def stage(name: String)(df: DataFrame): DataFrame = {
      timed(name)(df.write.format("noop").mode("overwrite").save())
      val x = df.cache()
      x.count()
      cached += x
      x
    }
    val seg = f"$src/seg-${nSeg - 1}%05d.parquet"
    val (upstream, actions) =
      if (c.w.kind == "pg") {
        val frames = stage("source.fanout_s")(
          spark.read.parquet(s"$src/seg-00000.parquet")
            .filter(col("seq") === Gen.pgBase(0, c.w.per) + 1)
            .unionByName(spark.read.parquet(seg)).repartition(par))
        val decoded = stage("pg.decode_s")(PgOutputOps.decode(frames))
        val rel = stage("pg.relationalize_s")(PgOutputOps.relationalize(decoded))
        (Seq("source.fanout_s", "pg.decode_s", "pg.relationalize_s", "pg.actions_s"),
          stage("pg.actions_s")(PgOutputOps.actions(rel, Gen.PgMapping)))
      } else {
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        val raw = stage("source.fanout_s")(
          spark.read.schema(Pipeline.eventSchema).parquet(seg).repartition(par))
        val typed = stage("cdc.typing_s")(CdcOps.typedMessages(raw))
        (Seq("source.fanout_s", "cdc.typing_s", "cdc.handler_s"),
          stage("cdc.handler_s")(CdcOps.handlerActions(typed)))
      }
    val deduped = stage("cdc.dedup_s")(CdcOps.dedupLastWriteWins(actions))
    stage("cdc.encode_s")(CdcOps.ndjsonEncode(deduped))
    out("dedup.kept_ratio") = (deduped.count() / math.max(1.0, actions.count()), "ratio")
    val flush = timed("sink.flush_s")(EsBulkSink.writeBatch(actions, nSeg.toLong,
      s"${c.o.work}/replay/bulk", ResponseHandler.deadLetter(s"${c.o.work}/replay/dlq"),
      Cores))
    cached.foreach(_.unpersist())
    val addBatch = median(d.progress.map(p => dur(p, "addBatch")))
    out("replay.share_of_add_batch") =
      ((upstream.map(out.metrics(_)._1).sum + flush) / math.max(1e-9, addBatch), "ratio")
    spans.toSeq
  }

  // ============================================================ curation

  /** The training-data ops layer (`SparkEntry.queries` keys) on a seeded
    * corpus: an untimed pass writes each key's output for run.py's DuckDB
    * oracle check, then a traced pass times each key (noop write).
    */
  def opsLayer(spark: SparkSession, o: Opts, out: Out): Seq[Span] = {
    val dir = s"${o.work}/corpus"
    val q = SparkEntry.queries
    def force(key: String): Double =
      secs(q(key)(spark, dir).write.format("noop").mode("overwrite").save())._2
    val outDir = s"${o.work}/outputs"
    Gen.curationTables(spark, dir, o.seed, CurationDocs, CurationVecs)
    // untimed first pass: builds the shared tables the keys read and
    // writes each key's output for the oracle check
    CurationKeys.foreach(k => q(k)(spark, dir).write.parquet(s"$outDir/$k"))
    val trace = new JobTrace
    spark.sparkContext.addSparkListener(trace)
    val walls = CurationKeys.map { k =>
      spark.sparkContext.setLocalProperty("perfbench.tag", s"ops:$k")
      force(k)
    }
    spark.sparkContext.setLocalProperty("perfbench.tag", null)
    trace.settle()
    spark.sparkContext.removeSparkListener(trace)
    out("ops.curation_s") = (walls.sum, "s")
    CurationKeys.zip(walls).foreach { case (k, wall) =>
      out(s"ops.${k}_s") = (wall, "s")
      out(s"ops.${k}_jobs") = (trace.jobsOf(s"ops:$k").size.toDouble, "count")
      out(s"ops.${k}_shuffle_mb") = (trace.agg(s"ops:$k").shuffleWrite / 1e6, "MB")
    }
    val sql = SparkEntry.oracleSql
    out.notes("oracle_data") = dir
    out.notes("oracle_outputs") = outDir
    out.notes("oracle_sql") = CurationKeys.map(k => k -> sql(k)).toMap
    CurationKeys.flatMap(k => trace.jobsOf(s"ops:$k").map(j =>
      Span(s"job ${j.file}", j.start.toDouble, j.end.toDouble, s"ops:$k", -1)))
  }

  // ================================================================ output

  val Json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def writeResult(path: String, out: Out): Unit =
    Json.writeValue(new File(path), Map(
      "attempted" -> out.attempted,
      "failed" -> out.failed,
      "metrics" -> out.metrics.map { case (k, (v, u)) =>
        k -> Map("value" -> (if (v.isNaN || v.isInfinite) 0.0 else v), "unit" -> u)
      },
      "notes" -> out.notes))
}
