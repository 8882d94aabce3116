package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.{SparkEntry, Tables, Tail}
import graft.operators.EnvelopeOps
import graft.sources.{ShardSlice, ShardedEvents, ShardedEventsReaderFactory, ShardedEventsStream}

/** One measured unit of a workload: a `Tail.run` drain, a live run, or
  * one pass over the registry queries.
  */
final case class Iter(
    wallS: Double,
    records: Long,
    opMs: Seq[Double],
    latMs: Seq[Double],
    attempted: Long,
    failed: Long,
    notes: Seq[String],
    progress: Seq[StreamingQueryProgress] = Nil,
    ops: Seq[(String, Double, Double)] = Nil, // (name, startMs, endMs)
    sinkMs: Double = 0,
    rchar: Long = 0,
    extra: Map[String, Double] = Map.empty,
    jitMs: Double = 0) // JIT compilation time during the iteration

/** Runs one workload in one JVM and writes its measurements as JSON:
  *
  *   java perfbench.Main <config.json> <result.json>
  *
  * The config (written by run.py) names the workload, its sizes, the
  * seed, the measured seconds and whether to trace. The JVM measures
  * set-up, then the untraced workload for `seconds`, then (traced runs
  * only) the same workload again with the tracing listeners attached.
  */
object Main {
  private val mapper = new ObjectMapper()

  /** `{{.ShardId}} {{.SequenceNumber}}` first so the sink can check
    * the stream contract; the rest is the reference's default format.
    */
  val Format = "{{.ShardId}} {{.SequenceNumber}} " + Tail.DefaultTemplate

  def main(args: Array[String]): Unit = {
    val cfg = mapper.readTree(new File(args(0)))
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val work = cfg.get("work").asText
    val cpus = cfg.get("cpus").asInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val w: Workload = cfg.get("kind").asText match {
      case "tail_catchup" => new CatchUp(spark, cfg, progress)
      case "tail_live" => new Live(spark, cfg, progress)
      case "batch" => new Batch(spark, cfg)
    }
    val out = new java.util.LinkedHashMap[String, Any]()
    try {
      val reps = (0 until cfg.get("setup_reps").asInt).map { _ =>
        val t0 = System.nanoTime(); w.setup(); (System.nanoTime() - t0) / 1e9
      }
      val setupS = sessionS + Stats.median(reps)
      val tPrep = System.nanoTime()
      w.prepare()
      val prepareS = (System.nanoTime() - tPrep) / 1e9
      val seconds = cfg.get("seconds").asDouble
      val tMeasure = System.nanoTime()
      val iters = measure(seconds, w)
      out.put("setup", jmap("session_s" -> sessionS, "reps_s" -> reps.asJava,
        "setup_s" -> setupS, "prepare_s" -> prepareS,
        "measure_s" -> (System.nanoTime() - tMeasure) / 1e9))
      val e2e = w.endToEnd(iters) + ("setup_s" -> setupS)
      out.put("e2e", jmap(e2e.toSeq: _*))
      out.put("iteration_wall_s", iters.map(_.wallS).asJava)
      out.put("iteration_jit_ms", iters.map(_.jitMs).asJava)
      out.put("attempted", iters.map(_.attempted).sum)
      out.put("failed", iters.map(_.failed).sum)
      out.put("notes", iters.flatMap(_.notes).distinct.take(20).asJava)
      out.put("extra", jmap(w.extra(iters).toSeq: _*))
      if (cfg.get("trace").asBoolean) {
        val t0 = System.nanoTime()
        w.setup()
        val tracedSetupS = sessionS + (System.nanoTime() - t0) / 1e9
        // Attach only once the set-up's events have been delivered, so
        // its jobs (the stream dump, the warm-up drain) are not charged
        // to the measured operations.
        BenchBus.drain(spark.sparkContext)
        val tracer = new Tracer
        tracer.attachContext(spark)
        tracer.attachSession(w.session)
        val wStart = Clock.nowMs
        val titers = measure(seconds, w, traced = true)
        val (probes, probeSpans) = w.probes()
        val wEnd = Clock.nowMs
        tracer.detach(w.session)
        val te2e = w.endToEnd(titers) + ("setup_s" -> tracedSetupS)
        val (layers, tree) = Layers.compute(cfg.get("workload").asText, tracer,
          titers, probes, probeSpans, wStart, wEnd)
        val overhead = e2e.map { case (k, v) => s"overhead.$k" -> (te2e(k) - v) }
        out.put("per_layer", jmap((layers ++ overhead).toSeq: _*))
        out.put("self_ms_by_layer", jmap(tree.selfByLayer.toSeq: _*))
        out.put("spans", tree.toJson)
        out.put("traced_iterations", titers.size)
        out.put("traced_attempted", titers.map(_.attempted).sum)
        out.put("traced_failed", titers.map(_.failed).sum)
      }
      w.report(out)
    } catch {
      case NonFatal(e) =>
        e.printStackTrace()
        out.put("error", s"${e.getClass.getName}: ${e.getMessage}")
    }
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(args(1)), out)
    spark.stop()
  }

  /** Iterate the workload until `seconds` have passed (at least once).
    * A full GC between iterations, outside their timed regions, keeps one
    * iteration's garbage out of the next one's time. Each iteration also
    * records the JIT's compilation time meanwhile: compiler threads share
    * the CPUs with the workload, so it shows how far from warm a run was.
    */
  def measure(seconds: Double, w: Workload, traced: Boolean = false): Seq[Iter] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[Iter]
    while (out.isEmpty || (System.nanoTime() - t0) / 1e9 < seconds) {
      System.gc()
      val jit0 = jit.getTotalCompilationTime
      out += w.iteration(traced).copy(jitMs = (jit.getTotalCompilationTime - jit0).toDouble)
    }
    out.toSeq
  }

  private val jit = ManagementFactory.getCompilationMXBean

  def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

trait Workload {
  /** The session the workload's queries run in. */
  def session: SparkSession
  /** One set-up repetition. */
  def setup(): Unit
  /** Untimed work after set-up, before the measurement. */
  def prepare(): Unit = ()
  def iteration(traced: Boolean): Iter
  def endToEnd(iters: Seq[Iter]): Map[String, Double]
  def extra(iters: Seq[Iter]): Map[String, Double] = Map.empty
  /** Timed direct calls into the source layer (tail workloads). */
  def probes(): (Map[String, Double], Seq[(String, Double, Double)]) = (Map.empty, Nil)
  def report(out: java.util.Map[String, Any]): Unit = ()
}

/** What the two tail workloads share: the replicated events stream, the
  * warm-up stream and the untimed shard-end count.
  */
abstract class TailBase(spark: SparkSession, cfg: JsonNode, progress: ProgressLog)
    extends Workload {
  val work: String = cfg.get("work").asText
  val data: String = cfg.get("data").asText
  val shards: Int = cfg.get("shards").asInt
  val copies: Int = cfg.get("copies").asInt
  val eventsRows: Long = cfg.get("events_rows").asLong
  val stream = s"$work/stream"
  /** Test-only fault injection (`--fault drop_line` in run.py). */
  val dropLine: Boolean = Option(cfg.get("fault")).exists(_.asText == "drop_line")
  def session: SparkSession = spark
  private val warm = s"$work/warm"

  /** Set-up: dump the stream (events replicated `copies`×, event ids
    * shifted per copy), dump a small warm-up stream and drain it once.
    */
  override def setup(): Unit = {
    val ev = Tables.load(spark, data, "events")
    val rep = ev.crossJoin(spark.range(copies).withColumnRenamed("id", "copy"))
      .withColumn("event_id", col("event_id") + col("copy") * lit(eventsRows))
      .drop("copy")
    ShardedEvents.dump(rep, stream, shards)
    ShardedEvents.dump(ev.limit(cfg.get("warm_rows").asInt), warm, shards)
    val sink = new Sink(shards, timed = false)
    Tail.run(Array("-O", "-s", "100000d", "-f", Main.Format, warm), () => spark, sink, System.err)
    BenchBus.drain(spark.sparkContext)
    progress.take()
  }

  /** Records per shard, counted here independently of the source. */
  def shardEnds(): Array[Long] = Array.tabulate(shards) { s =>
    val dir = new File(stream, f"shard_id=shard-$s%03d")
    Option(dir.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isFile && f.getName.startsWith("part-"))
      .map { f =>
        val b = Files.readAllBytes(f.toPath); b.count(_ == '\n'.toByte).toLong
      }.sum
  }

  def triggerMs(ps: Seq[StreamingQueryProgress]): Seq[Double] =
    ProgressLog.dataTriggers(ps).map(ProgressLog.dur(_, "triggerExecution"))

  /** Timed direct calls into `graft.sources` on the current stream. */
  override def probes(): (Map[String, Double], Seq[(String, Double, Double)]) = {
    val spans = ArrayBuffer.empty[(String, Double, Double)]
    def timeMs(f: => Unit): Double = {
      val s = Clock.nowMs
      val t0 = System.nanoTime(); f
      val d = (System.nanoTime() - t0) / 1e6
      spans += (("probe", s, s + d))
      d
    }
    val src = new ShardedEventsStream(stream, Long.MinValue, Some(10000L))
    val report = Stats.median((0 until 5).map(_ => timeMs(src.reportLatestOffset())))
    val ends = shardEnds()
    val s = ends.indices.maxBy(ends(_))
    def slice(from: Long): Double = Stats.median((0 until 3).map { _ =>
      timeMs {
        val r = new ShardedEventsReaderFactory()
          .createReader(ShardSlice(stream, f"shard-$s%03d", from, math.min(from + 10000, ends(s))))
        try while (r.next()) r.get() finally r.close()
      }
    })
    (Map("sources.report_latest_offset_ms" -> report,
      "sources.slice_read_ms_head" -> slice(0L),
      "sources.slice_read_ms_tail" -> slice(math.max(0L, ends(s) - 10000))), spans.toSeq)
  }
}

/** `tail_catchup`: `Tail.run -O` from the trim horizon, repeated. */
final class CatchUp(spark: SparkSession, cfg: JsonNode, progress: ProgressLog)
    extends TailBase(spark, cfg, progress) {
  private var ends: Array[Long] = _

  override def setup(): Unit = { super.setup(); ends = shardEnds() }

  /** One untimed drain: the first full drain after set-up runs ~10%
    * slower while the JIT is still compiling the read and render paths.
    */
  override def prepare(): Unit = iteration(traced = false)

  override def iteration(traced: Boolean): Iter = {
    val sink = new Sink(shards, timed = traced, dropFirst = dropLine)
    val rc0 = Stats.rchar()
    val startUs = Clock.nowUs
    val t0 = System.nanoTime()
    val rc = Tail.run(Array("-O", "-s", "100000d", "-f", Main.Format, stream),
      () => spark, sink, System.err)
    val wall = (System.nanoTime() - t0) / 1e9
    val rchar = Stats.rchar() - rc0
    BenchBus.drain(spark.sparkContext)
    val ps = progress.take()
    val (expected, failed, notes) = sink.check(new Array[Long](shards), ends)
    val notes2 = if (rc != 0) notes :+ s"Tail.run exit code $rc" else notes
    Iter(wall, sink.lines, triggerMs(ps),
      sink.allEmitUs.map(e => (e - startUs) / 1000.0).toSeq,
      expected, if (rc != 0) expected else failed, notes2, ps,
      sinkMs = sink.writeNs / 1e6, rchar = rchar)
  }

  override def endToEnd(iters: Seq[Iter]): Map[String, Double] = Map(
    "wall_s" -> Stats.median(iters.map(_.wallS)),
    "records_per_s" -> Stats.median(iters.map(i => i.records / i.wallS)),
    "op_ms_p50" -> Stats.median(iters.flatMap(_.opMs)),
    "latency_ms_p50" -> Stats.median(iters.map(i => Stats.quantile(i.latMs, 0.5))),
    "latency_ms_p99" -> Stats.median(iters.map(i => Stats.quantile(i.latMs, 0.99))))

  override def extra(iters: Seq[Iter]): Map[String, Double] = Map(
    "records_per_drain" -> ends.sum.toDouble,
    "triggers_per_drain" -> Stats.median(iters.map(_.opMs.size.toDouble)))
}

/** `tail_live`: an open-loop producer appends to a long-history stream
  * while `Tail.run -w 1s -s 1m` watches it.
  */
final class Live(spark: SparkSession, cfg: JsonNode, progress: ProgressLog)
    extends TailBase(spark, cfg, progress) {
  private val rate = cfg.get("rate").asDouble
  private val seed = cfg.get("seed").asLong
  private var runNo = 0
  override def iteration(traced: Boolean): Iter = {
    runNo += 1
    val hist = shardEnds()
    val gen = new LiveGen(stream, shards, hist,
      firstEventId = eventsRows * copies + runNo * 100000000L,
      users = math.max(1, (eventsRows * 3 / 200).toInt), rate = rate,
      seconds = cfg.get("seconds").asDouble, seed = seed * 1000 + runNo,
      tickMs = cfg.get("tick_ms").asInt, stage = new File(s"$work/stage"))
    val sink = new Sink(shards, timed = traced, dropFirst = dropLine)
    @volatile var rc = -1
    val rc0 = Stats.rchar()
    val t0 = System.nanoTime()
    val th = new Thread(() => {
      rc = Tail.run(Array("-w", "1s", "-s", "1m", "-f", Main.Format, stream),
        () => spark, sink, System.err)
    })
    th.start()
    // The generator starts once the query has run its first trigger,
    // so the initial AT_TIMESTAMP positioning is not in any latency.
    val deadline = System.nanoTime() + 120e9.toLong
    while (!spark.streams.active.exists(_.status.message.startsWith("Waiting")) &&
        System.nanoTime() < deadline) Thread.sleep(10)
    val genStartUs = Clock.nowUs
    gen.run()
    val drainBy = System.nanoTime() + 15e9.toLong
    while (sink.lines < gen.n && System.nanoTime() < drainBy) Thread.sleep(5)
    spark.streams.active.foreach(_.stop())
    th.join()
    val wall = (System.nanoTime() - t0) / 1e9
    val rchar = Stats.rchar() - rc0
    BenchBus.drain(spark.sparkContext)
    val ps = progress.take()
    val (expected, failed, notes) = sink.check(hist, gen.endSeq)
    val emit = sink.emitIndex
    val lat = (0 until gen.n).flatMap { i =>
      emit.get((gen.shardOf(i), gen.seqOf(i))).map(e => (e - gen.dueUs(i)) / 1000.0)
    }
    val lastEmit = if (emit.isEmpty) Clock.nowUs else emit.values.max
    val late = (0 until gen.n).map(i => (gen.writtenUs(i) - gen.dueUs(i)) / 1000.0)
    val lateP99 = Stats.quantile(late, 0.99)
    val behind = lateP99 > cfg.get("max_gen_late_ms").asDouble
    val notes2 = notes ++
      (if (rc != 0) Seq(s"Tail.run exit code $rc") else Nil) ++
      (if (behind) Seq(f"generator fell behind its schedule: lateness p99 $lateP99%.1f ms") else Nil)
    Iter(wall, sink.lines, triggerMs(ps), lat, expected,
      if (rc != 0 || behind) math.max(failed, 1L) else failed, notes2, ps,
      sinkMs = sink.writeNs / 1e6, rchar = rchar,
      extra = Map(
        "generator_late_ms_p50" -> Stats.quantile(late, 0.5),
        "generator_late_ms_p99" -> lateP99,
        "generator_behind" -> (if (behind) 1.0 else 0.0),
        "offered_records" -> gen.n.toDouble,
        "emitted_records" -> sink.lines.toDouble,
        "live_window_s" -> (lastEmit - genStartUs) / 1e6))
  }

  override def endToEnd(iters: Seq[Iter]): Map[String, Double] = Map(
    "wall_s" -> Stats.median(iters.map(_.wallS)),
    "records_per_s" -> Stats.median(iters.map(i => i.records / i.extra("live_window_s"))),
    "op_ms_p50" -> Stats.median(iters.flatMap(_.opMs)),
    "latency_ms_p50" -> Stats.median(iters.map(i => Stats.quantile(i.latMs, 0.5))),
    "latency_ms_p99" -> Stats.median(iters.map(i => Stats.quantile(i.latMs, 0.99))))

  override def extra(iters: Seq[Iter]): Map[String, Double] =
    iters.head.extra.keys.map(k => k -> iters.map(_.extra(k)).max).toMap
}

/** `batch_*`: passes over a fixed list of registry queries, each timed
  * as `graft.Bench` times it (build, then drain through `noop`), with
  * the cleanup outside the timed region. A first, untimed pass writes
  * every query's output for the correctness check.
  */
final class Batch(spark: SparkSession, cfg: JsonNode) extends Workload {
  private val work = cfg.get("work").asText
  private val data = cfg.get("data").asText
  private val queries = cfg.get("queries").elements().asScala.map(_.asText).toSeq
  private val registry = SparkEntry.queries
  var session: SparkSession = spark
  private val rows = scala.collection.mutable.LinkedHashMap.empty[String, Long]
  private val checkFailed = scala.collection.mutable.LinkedHashSet.empty[String]
  private val execs = scala.collection.mutable.LinkedHashMap.empty[String, Long]

  /** Set-up: a fresh session (its own table-relation cache), every
    * table resolved, and the `graft.Bench` warm-up (the render pipeline)
    * over this data.
    */
  override def setup(): Unit = {
    session = spark.newSession()
    Tables.names.foreach(t => Tables.load(session, data, t))
    EnvelopeOps.renderPipeline(Tables.load(session, data, "events"))
      .write.format("noop").mode("overwrite").save()
  }

  /** The check pass, then `warm_passes` untimed passes (at most
    * `warm_max_s` seconds): query times keep falling for dozens of passes
    * while the JIT compiles the engine's paths. The JIT's progress
    * follows the number of passes, not the time they took, so a count
    * leaves every run at the same point of that curve on a slow host
    * as on a fast one.
    */
  override def prepare(): Unit = {
    checkPass()
    val until = System.nanoTime() + (cfg.get("warm_max_s").asDouble * 1e9).toLong
    var n = 0
    while (n < cfg.get("warm_passes").asInt && System.nanoTime() < until) {
      iteration(traced = false); n += 1
    }
    execs.clear()
  }

  private def cleanup(): Unit = {
    session.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    session.catalog.clearCache()
  }

  /** Untimed: write each query's output as parquet and count its rows.
    * The test-only `wrong_output` fault writes the first query's output
    * from the last query instead.
    */
  private def checkPass(): Unit = queries.foreach { q =>
    val wrong = q == queries.head &&
      Option(cfg.get("fault")).exists(_.asText == "wrong_output")
    try {
      registry(if (wrong) queries.last else q)(session, data)
        .write.mode("overwrite").parquet(s"$work/out/$q")
      rows(q) = session.read.parquet(s"$work/out/$q").count()
    } catch {
      case NonFatal(e) =>
        System.err.println(s"[perfbench] $q failed in the check pass: ${e.getMessage}")
        checkFailed += q
    } finally cleanup()
  }

  override def iteration(traced: Boolean): Iter = {
    val times = ArrayBuffer.empty[Double]
    val ops = ArrayBuffer.empty[(String, Double, Double)]
    var failed = 0L
    val notes = ArrayBuffer.empty[String]
    queries.foreach { q =>
      val s = Clock.nowMs
      val t0 = System.nanoTime()
      val ok =
        try { registry(q)(session, data).write.format("noop").mode("overwrite").save(); true }
        catch { case NonFatal(e) => notes += s"$q threw: ${e.getMessage}"; false }
      val dt = (System.nanoTime() - t0) / 1e6
      ops += ((q, s, s + dt))
      cleanup()
      execs(q) = execs.getOrElse(q, 0L) + 1
      if (!ok || checkFailed.contains(q)) failed += 1
      times += dt
    }
    // A query's result is ready when it ends, counted from the pass start.
    Iter(times.sum / 1000.0, queries.map(q => rows.getOrElse(q, 0L)).sum, times.toSeq,
      times.scanLeft(0.0)(_ + _).tail.toSeq, queries.size.toLong, failed, notes.toSeq,
      ops = ops.toSeq)
  }


  override def endToEnd(iters: Seq[Iter]): Map[String, Double] = {
    val perQuery = queries.indices.map(i => Stats.median(iters.map(_.opMs(i))))
    val wall = Stats.median(iters.map(_.wallS))
    val lat = iters.flatMap(_.latMs)
    Map(
      "wall_s" -> wall,
      "records_per_s" -> iters.head.records / wall,
      "op_ms_p50" -> Stats.median(perQuery),
      "latency_ms_p50" -> Stats.quantile(lat, 0.5),
      "latency_ms_p99" -> Stats.quantile(lat, 0.99))
  }

  override def extra(iters: Seq[Iter]): Map[String, Double] =
    queries.zipWithIndex.map { case (q, i) => s"query_s.$q" -> Stats.median(iters.map(_.opMs(i))) / 1000 }.toMap

  override def report(out: java.util.Map[String, Any]): Unit = {
    out.put("rows", Main.jmap(rows.toSeq: _*))
    out.put("executions", Main.jmap(execs.toSeq: _*))
    out.put("check_failed", checkFailed.toSeq.asJava)
    out.put("oracle_sql", Main.jmap(queries.flatMap(q => SparkEntry.oracleSql.get(q).map(q -> _)): _*))
  }
}
