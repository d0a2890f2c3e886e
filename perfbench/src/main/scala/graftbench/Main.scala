package graftbench

import java.io.File

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.graftbench.BusShim
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryProgress

import graft.EnvProbe
import graft.core.{Direction, SkylineCore}
import graft.operators.SkylineOps._
import graft.streaming.SkylineStreaming

/** A workload: its data shape, a salt that keeps its points apart from
  * the other workloads' under the same seed, the number of warm-up
  * operations that end set-up, and the prefix size of the single-threaded
  * kernel baseline. */
sealed trait Workload {
  def spec: DataSpec
  def salt: Long
  def warmup: Int
  def coreN: Int
}
/** Closed loop of `skyline(...)` calls over one parquet data set. */
final case class BatchWorkload(spec: DataSpec, salt: Long, warmup: Int, coreN: Int) extends Workload
/** Closed loop of drains of a parquet backlog, one file per micro-batch. */
final case class StreamWorkload(spec: DataSpec, salt: Long, warmup: Int, coreN: Int) extends Workload

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, work: File)

/**
 * Benchmark runner: one workload, one seed, one process under `local[k]`.
 * It reaches the engine only through its public API — `skyline(...)`,
 * `SkylineStreaming.skylineStream`/`runOnce`, `SkylineCore.skylineOf`/
 * `merge` — and prints, as its last stdout line, one JSON result.
 *
 * usage: graftbench.Main --workload W --seed N --seconds S --trace 0|1 --work DIR
 */
object Main {
  /** Warm-up counts: the operations after which per-operation times
    * stopped falling in runs on 4 cores. */
  val Workloads: Map[String, Workload] = Map(
    "thin_scan" -> BatchWorkload(DataSpec(8000000L, 3, 24), salt = 1, warmup = 4, coreN = 300000),
    "frontier_heavy" -> BatchWorkload(DataSpec(600000L, 6, 24), salt = 2, warmup = 5, coreN = 25000),
    "stream_drain" -> StreamWorkload(DataSpec(10 * 40000L, 2, 10), salt = 3, warmup = 1, coreN = 40000))

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def get(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = get("workload")
    require(Workloads.contains(w), s"unknown workload '$w' (known: ${Workloads.keys.toSeq.sorted.mkString(", ")})")
    val trace = get("trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val seconds = get("seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    Opts(w, get("seed").toLong, seconds, trace, new File(get("work")))
  }

  def session(k: Int, work: File): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$k]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", k.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      .config("spark.sql.streaming.checkpointLocation", new File(work, "checkpoints").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val envStart = EnvProbe.snapshotJson("start")
    // one core stays free for the driver, JIT and GC threads
    val k = math.max(1, math.min(4, Runtime.getRuntime.availableProcessors() - 1))
    val run = new Run(opts, k)
    try {
      Workloads(opts.workload) match {
        case w: BatchWorkload => run.batch(w)
        case w: StreamWorkload => run.stream(w)
      }
    } finally run.stop()
    val envEnd = EnvProbe.snapshotJson("end")
    val env = Json.Raw(s"{$envStart,$envEnd,${EnvProbe.staticJson()}," +
      s""""nproc":${Runtime.getRuntime.availableProcessors()},"master":"local[$k]",""" +
      s""""shuffle_partitions":$k}""")
    println(Json.obj("env" -> env, "fingerprint" -> Json.Raw(run.fingerprint), "detail" -> run.detail.toMap))
    if (opts.trace) println(Json.obj("spans" -> run.spans.all.map(s => Json.Raw(s.json))))
    println(run.resultJson)
  }
}

/** State of one run: the session, the checks' counters and the metrics. */
final class Run(opts: Opts, k: Int) {
  val spans = new Spans(System.currentTimeMillis(), System.nanoTime())
  val detail = ArrayBuffer.empty[(String, Any)]
  var fingerprint = "{}"
  private var spark: SparkSession = _
  private var attempted = 0
  private var failed = 0
  private var checksOk = true
  private val metrics = ArrayBuffer.empty[(String, Double, String)]
  private var opId = 0

  def stop(): Unit = if (spark != null) spark.stop()

  private def metric(name: String, value: Double, unit: String): Unit = metrics += ((name, value, unit))

  def resultJson: String = {
    detail += "error_rate" -> (if (attempted == 0) 0.0 else failed.toDouble / attempted)
    Json.obj(
      "correct" -> (failed == 0 && checksOk && attempted > 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> Json.Raw(Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.Raw(Json.obj("value" -> v, "unit" -> u)) }.toSeq: _*)))
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Count one checked operation; `got` is its result. */
  private def check(got: Iterable[Array[Double]], want: Frontier, what: String): Unit = {
    attempted += 1
    val f = Oracle.frontier(got)
    if (f != want) {
      failed += 1
      System.err.println(s"[perfbench] WRONG RESULT in $what: got $f, want $want")
    }
  }

  /** Run `op` until `seconds` have passed (closed loop: the next
    * operation starts when the previous one returns). An operation that
    * throws counts as attempted and failed. */
  private def closedLoop(op: () => Unit): Unit = {
    val deadline = System.nanoTime() + opts.seconds * 1000000000L
    while (System.nanoTime() < deadline) {
      try op()
      catch {
        case e: Exception =>
          attempted += 1
          failed += 1
          System.err.println(s"[perfbench] operation failed: $e")
      }
    }
  }

  private def rowsToPoints(rows: Array[Row], d: Int): Seq[Array[Double]] =
    rows.toSeq.map(r => Array.tabulate(d)(r.getDouble))

  private def minDir(d: Int) = Array.fill(d)(true)
  private def dims(spec: DataSpec) = spec.columns.map(_ -> (Direction.Min: Direction))

  /** Set-up shared by all workloads: session, data, expected frontier. */
  private def generate(name: String, spec: DataSpec, salt: Long, dir: File): Frontier = {
    val base = Gen.base(opts.seed, salt)
    val t0 = System.nanoTime()
    Gen.write(spark, spec, base, dir)
    val t1 = System.nanoTime()
    val expected = Oracle.frontier(Oracle.skylineOfIds(base, spec.d, spec.n, minDir(spec.d),
      Runtime.getRuntime.availableProcessors()))
    detail += s"${name}_generate_s" -> (t1 - t0) / 1e9
    detail += s"${name}_oracle_s" -> secs(t1)
    expected
  }

  private def startSession(): Unit = {
    val t0 = System.nanoTime()
    spark = Main.session(k, opts.work)
    detail += "session_s" -> secs(t0)
  }

  def batch(w: BatchWorkload): Unit = {
    val setup0 = System.nanoTime()
    startSession()
    val dir = new File(opts.work, "data")
    val expected = generate("data", w.spec, w.salt, dir)
    fingerprint = Fingerprint(w.spec, Gen.bytes(dir), expected).json
    val df = spark.read.parquet(dir.getPath)
    val d = w.spec.d
    def query(): Seq[Array[Double]] = rowsToPoints(df.skyline(dims(w.spec)).collect(), d)
    val warm0 = System.nanoTime()
    (1 to w.warmup).foreach(i => check(query(), expected, s"warm-up $i"))
    detail += "warmup_s" -> secs(warm0)
    val setupS = secs(setup0)

    if (!opts.trace) {
      val times = ArrayBuffer.empty[Double]
      closedLoop { () =>
        val t0 = System.nanoTime()
        val got = query()
        times += secs(t0)
        check(got, expected, "query")
      }
      endToEnd(times.map(_ * 1e3).toSeq, w.spec.n, times.toSeq, setupS)
    } else {
      core(dir, w)
      val sc = spark.sparkContext
      val ops = new OpsListener
      val traced, untraced = ArrayBuffer.empty[Double]
      val samples = ArrayBuffer.empty[OpsSample]
      closedLoop { () =>
        opId += 1
        val on = opId % 2 == 1
        val group = s"perfbench-op-$opId"
        if (on) sc.addSparkListener(ops)
        sc.setJobGroup(group, s"skyline query $opId")
        val jvm = if (on) new JvmWindow else null
        val t0 = System.nanoTime()
        var t1 = 0L
        val got = try query() finally {
          t1 = System.nanoTime()
          sc.clearJobGroup()
          if (on) { BusShim.drain(sc); sc.removeSparkListener(ops) }
        }
        if (on) {
          val (jobs, stages) = ops.take(group)
          val top = spans.add(0, opId, "ops.skyline", spans.fromNanos(t0), spans.fromNanos(t1))
          samples += OpsSample.of(spans, opId, top, t0, t1, jobs, stages, jvm)
          traced += (t1 - t0) / 1e9
        } else untraced += (t1 - t0) / 1e9
        check(got, expected, "query")
      }
      opsLayer(samples.toSeq, traced.toSeq, untraced.toSeq, expected.size)
      streamLayer(Nil)
    }
  }

  def stream(w: StreamWorkload): Unit = {
    val setup0 = System.nanoTime()
    startSession()
    val backlog = new File(opts.work, "backlog")
    val expected = generate("backlog", w.spec, w.salt, backlog)
    fingerprint = Fingerprint(w.spec, Gen.bytes(backlog), expected).json
    val progress = new ProgressListener
    spark.streams.addListener(progress)
    val sc = spark.sparkContext
    val d = w.spec.d
    var drains = 0
    /** One drain of the backlog through a fresh query; returns its result,
      * its non-empty micro-batches and its start/end times. */
    def drain(): (Seq[Array[Double]], Seq[StreamingQueryProgress], Long, Long) = {
      drains += 1
      val src = spark.readStream.schema(w.spec.schema)
        .option("maxFilesPerTrigger", "1").parquet(backlog.getPath)
      val t0 = System.nanoTime()
      val out = SkylineStreaming.runOnce(SkylineStreaming.skylineStream(src, dims(w.spec)),
        s"perfbench_drain_$drains", statePartitions = Some(k)).collect()
      val t1 = System.nanoTime()
      BusShim.drain(sc)
      (rowsToPoints(out, d), progress.take().filter(_.numInputRows > 0), t0, t1)
    }
    val warm0 = System.nanoTime()
    (1 to w.warmup).foreach(i => check(drain()._1, expected, s"warm-up drain $i"))
    detail += "warmup_s" -> secs(warm0)
    val setupS = secs(setup0)

    val batches = ArrayBuffer.empty[StreamingQueryProgress]
    val drainS = ArrayBuffer.empty[Double]
    if (!opts.trace) {
      closedLoop { () =>
        val (got, prog, t0, t1) = drain()
        batches ++= prog
        drainS += (t1 - t0) / 1e9
        check(got, expected, "drain")
      }
      detail += "drains" -> drainS.length
      endToEnd(batches.map(ms(_, "triggerExecution")).toSeq, w.spec.n, drainS.toSeq, setupS)
    } else {
      core(backlog, w)
      val ops = new OpsListener
      val traced, untraced = ArrayBuffer.empty[Double]
      val samples = ArrayBuffer.empty[OpsSample]
      closedLoop { () =>
        opId += 1
        val on = opId % 2 == 1
        if (on) sc.addSparkListener(ops)
        val jvm = if (on) new JvmWindow else null
        val (got, prog, t0, t1) = try drain() finally if (on) sc.removeSparkListener(ops)
        batches ++= prog
        if (on) {
          // a query's micro-batch jobs run in the job group of its run id
          val group = prog.headOption.map(_.runId.toString).orNull
          val (jobs, stages) = ops.take(group)
          val top = spans.add(0, opId, "streaming.runOnce", spans.fromNanos(t0), spans.fromNanos(t1))
          prog.foreach { p =>
            val end = java.time.Instant.parse(p.timestamp).toEpochMilli +
              ms(p, "triggerExecution").toLong
            spans.add(top, opId, s"batch ${p.batchId}",
              spans.fromEpochMs(java.time.Instant.parse(p.timestamp).toEpochMilli),
              spans.fromEpochMs(end))
          }
          samples += OpsSample.of(spans, opId, top, t0, t1, jobs, stages, jvm)
          traced += (t1 - t0) / 1e9
        } else untraced += (t1 - t0) / 1e9
        check(got, expected, "drain")
      }
      opsLayer(samples.toSeq, traced.toSeq, untraced.toSeq, expected.size)
      streamLayer(batches.toSeq)
    }
  }

  private def ms(p: StreamingQueryProgress, key: String): Double =
    Option(p.durationMs.get(key)).map(_.doubleValue).getOrElse(0.0)

  /** The end-to-end metrics. A run holds too few operations for a tail
    * percentile with ten samples beyond it, so p90 goes to the detail
    * line only, next to the sample count. */
  private def endToEnd(latencyMs: Seq[Double], pointsPerOp: Long, opSeconds: Seq[Double],
      setupS: Double): Unit = {
    val ok = latencyMs.nonEmpty && opSeconds.nonEmpty
    metric("latency_p50_ms", if (ok) Stats.median(latencyMs) else 0.0, "ms")
    metric("points_per_s", if (ok) pointsPerOp / Stats.median(opSeconds) else 0.0, "1/s")
    metric("setup_s", setupS, "s")
    detail += "samples" -> latencyMs.length
    detail += "latencies_ms" -> latencyMs.map(x => math.rint(x * 10) / 10)
    if (ok) detail += "latency_p90_ms" -> Stats.percentile(latencyMs, 0.9)
  }

  private def opsLayer(samples: Seq[OpsSample], traced: Seq[Double], untraced: Seq[Double],
      resultRows: Int): Unit = {
    OpsSample.medians(samples).foreach((metric _).tupled)
    metric("ops.result_rows", resultRows, "count")
    val worst = samples.map(_.reconcileErr).maxOption.getOrElse(0.0)
    if (worst > 0.05) {
      checksOk = false
      System.err.println(s"[perfbench] driver time + job union is off the wall time by ${worst * 100}%")
    }
    metric("trace.reconcile_max_err", worst, "ratio")
    val overhead = if (traced.isEmpty || untraced.isEmpty) 0.0
      else Stats.median(traced) - Stats.median(untraced)
    metric("trace.overhead_s", overhead, "s")
    detail += "traced_ops" -> traced.length
    detail += "untraced_ops" -> untraced.length
  }

  /** Micro-batch breakdown from `StreamingQueryProgress` (zeros when the
    * workload runs no stream). State-store figures are sums over the
    * state-store instances of a batch, not wall time. */
  private def streamLayer(batches: Seq[StreamingQueryProgress]): Unit = {
    def p50(f: StreamingQueryProgress => Double) =
      if (batches.isEmpty) 0.0 else Stats.median(batches.map(f))
    def stateSum(p: StreamingQueryProgress, f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      p.stateOperators.map(f).sum
    Seq("addBatch" -> "add_batch", "queryPlanning" -> "query_planning", "getBatch" -> "get_batch",
      "latestOffset" -> "latest_offset", "walCommit" -> "wal_commit", "commitOffsets" -> "commit_offsets")
      .foreach { case (key, name) => metric(s"stream.${name}_ms", p50(ms(_, key)), "ms") }
    metric("stream.non_batch_ms", p50(p => ms(p, "triggerExecution") - ms(p, "addBatch")), "ms")
    metric("stream.state_commit_ms_sum", p50(stateSum(_, _.commitTimeMs.toDouble)), "ms")
    metric("stream.state_update_ms_sum", p50(stateSum(_, _.allUpdatesTimeMs.toDouble)), "ms")
    val last = batches.lastOption
    metric("stream.state_rows", last.map(stateSum(_, _.numRowsTotal.toDouble)).getOrElse(0.0), "count")
    metric("stream.state_bytes", last.map(stateSum(_, _.memoryUsedBytes.toDouble)).getOrElse(0.0), "bytes")
    metric("stream.batches", batches.length, "count")
  }

  /** Single-threaded kernel baseline on the first `coreN` points of the
    * first data file, checked against the oracle. */
  private def core(dir: File, w: Workload): Unit = {
    val d = w.spec.d
    val md = minDir(d)
    val prefix = rowsToPoints(
      spark.read.parquet(Gen.dataFiles(dir).head.getPath).limit(w.coreN).collect(), d)
    val want = Oracle.frontier(Oracle.skyline(prefix.iterator, md))
    val reps = 3
    val bnl = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      val got = SkylineCore.skylineOf(prefix.iterator, md)
      val s = secs(t0)
      spans.add(0, 0, "core.skylineOf", spans.fromNanos(t0), spans.fromNanos(t0) + s * 1e3)
      check(got, want, "SkylineCore.skylineOf")
      s
    }
    val (a, b) = prefix.splitAt(prefix.length / 2)
    val (la, lb) = (SkylineCore.skylineOf(a.iterator, md), SkylineCore.skylineOf(b.iterator, md))
    val merge = (1 to reps).map { _ =>
      val (x, y) = (ArrayBuffer.from(la), ArrayBuffer.from(lb))
      val t0 = System.nanoTime()
      val got = SkylineCore.merge(x, y, md)
      val s = secs(t0)
      spans.add(0, 0, "core.merge", spans.fromNanos(t0), spans.fromNanos(t0) + s * 1e3)
      check(got, want, "SkylineCore.merge")
      s
    }
    metric("core.bnl_s", Stats.median(bnl), "s")
    metric("core.bnl_points_per_s", prefix.length / Stats.median(bnl), "1/s")
    metric("core.merge_s", Stats.median(merge), "s")
    detail += "core_points" -> prefix.length
  }
}
