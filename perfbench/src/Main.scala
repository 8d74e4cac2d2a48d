package perfbench

import java.io.File

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.perfbench.Internals

/** What one timed operation produced: items of work and whether its output
  * passed its check.
  */
final case class OpResult(items: Long, ok: Boolean)

/** A named output check, run once before the timed loop. */
final case class Check(name: String, ok: Boolean, detail: String)

/** Session-bound context handed to a workload. */
final class Ctx(val spark: SparkSession, val probe: Probe, val tracer: Tracer, val seed: Long) {

  /** Runs `body` as one layer: its jobs carry the layer's job group and its
    * time goes into a span. Returns the value and the layer's seconds.
    */
  def layer[T](name: String, run: Int)(body: => T): (T, Double) = {
    val sc = spark.sparkContext
    sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try (tracer.span(name, run)(body), (System.nanoTime() - t0) / 1e9)
    finally sc.clearJobGroup()
  }

  def drainBus(): Unit = Internals.drain(spark.sparkContext)
}

/** One benchmark workload: seeded inputs, set-up, a timed operation, a
  * traced variant of it that materializes every layer boundary, and the
  * checks, which run once between set-up and the timed loop and so also
  * bring the timed ops to a warm start.
  */
trait Workload {
  def name: String
  /** Workload-specific names of throughput and latency, for the summary line. */
  def throughputName: String
  def latencyName: String
  def minOps: Int
  def generate(ctx: Ctx, dir: File): Seq[(String, Gen.Inputs)]
  /** Long-lived state the workload keeps cached, such as an index. */
  def build(ctx: Ctx): Unit = ()
  /** Runs the operation until caches and code generation are warm. */
  def warmUp(ctx: Ctx): Unit
  /** Driver-side reference outputs; not timed. */
  def reference(): Unit
  def op(ctx: Ctx, i: Int): OpResult
  /** Returns the op result and this op's per-layer values. */
  def tracedOp(ctx: Ctx, i: Int): (OpResult, Map[String, Double])
  def checks(ctx: Ctx): Seq[Check]
  /** Job groups that together make up one interactive query, if any. */
  val queryLayers: Seq[String] = Nil
}

object Main {
  val SetupReps = 3
  val MB = 1024.0 * 1024.0

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val wlName = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = new File(a("work"))
    val wl: Workload = wlName match {
      case "forecast_batch" => new ForecastBatch(symbols = 4, hours = 1460)
      case "forecast_interactive" => new ForecastInteractive(symbols = 5, hours = 1460)
      case "dedup_curation" => new DedupCuration(docs = 8000)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = new java.io.PrintStream(new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
    val dataRoot = new File(work, "run/data")

    // Set-up, several times: fresh session, inputs, index build, warm-up.
    val setupS = ArrayBuffer.empty[Double]
    val phases = ArrayBuffer.empty[String]
    var ctx: Ctx = null
    var inputs: Seq[(String, Gen.Inputs)] = Nil
    var ownedRdds = Set.empty[Int]
    var ownedEntries = 0
    (0 until SetupReps).foreach { rep =>
      if (ctx != null) ctx.spark.stop()
      deleteTree(dataRoot)
      val t0 = System.nanoTime()
      def lap(t: Long) = (System.nanoTime() - t) / 1e9
      val spark = graft.Session.get()
      val probe = new Probe
      spark.sparkContext.addSparkListener(probe)
      ctx = new Ctx(spark, probe, new Tracer, seed)
      val tSession = lap(t0)
      val t1 = System.nanoTime()
      inputs = wl.generate(ctx, new File(dataRoot, s"rep$rep"))
      val tGen = lap(t1)
      val t2 = System.nanoTime()
      wl.build(ctx)
      ownedRdds = spark.sparkContext.getPersistentRDDs.keySet.toSet
      ownedEntries = Internals.cacheEntries(spark)
      val tBuild = lap(t2)
      val t3 = System.nanoTime()
      wl.warmUp(ctx)
      releaseLeaks(ctx, ownedRdds, ownedEntries)
      val tWarm = lap(t3)
      setupS += lap(t0)
      phases += f"session $tSession%.2f + inputs $tGen%.2f + build $tBuild%.2f + warm-up $tWarm%.2f"
    }
    wl.reference()
    val spark = ctx.spark
    val sc = spark.sparkContext

    val walls = ArrayBuffer.empty[Double]
    val tracedWalls = ArrayBuffer.empty[Double]
    var items = 0L
    var failedOps = 0
    val leakedRdds = ArrayBuffer.empty[Double]
    val leakedEntries = ArrayBuffer.empty[Double]
    val layerVals = mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]

    // Leaks are counted after untraced ops only: a traced op persists its
    // layer boundaries itself and releases them.
    def dropLeaksAfterOp(count: Boolean): Unit = {
      if (count) {
        leakedRdds += (sc.getPersistentRDDs.keySet -- ownedRdds).size.toDouble
        leakedEntries += (Internals.cacheEntries(spark) - ownedEntries).toDouble
      }
      if (releaseLeaks(ctx, ownedRdds, ownedEntries)) {
        wl.build(ctx)
        ownedRdds = sc.getPersistentRDDs.keySet.toSet
      }
    }

    val checks = try wl.checks(ctx) catch {
      case e: Exception => report(e); Seq(Check("checks", ok = false, e.toString))
    }
    dropLeaksAfterOp(count = false)

    val hostBefore = hostProbe()
    var i = 0
    val start = System.nanoTime()
    def elapsed = (System.nanoTime() - start) / 1e9
    // A traced run spends half its time untraced, for the overhead baseline.
    val untracedFor = if (trace) seconds / 2 else seconds
    val minOps = if (trace) math.max(2, wl.minOps / 2) else wl.minOps
    val inputBytes = inputs.map(_._2.bytes).sum.toDouble
    val inputReadRatio = ArrayBuffer.empty[Double]
    while (elapsed < untracedFor || walls.size < minOps) {
      val read0 = fileBytesRead()
      val t0 = System.nanoTime()
      val r = try wl.op(ctx, i) catch { case e: Exception => report(e); OpResult(0, ok = false) }
      walls += (System.nanoTime() - t0) / 1e9
      inputReadRatio += (fileBytesRead() - read0) / inputBytes
      items += r.items
      if (!r.ok) failedOps += 1
      dropLeaksAfterOp(count = true)
      i += 1
    }
    if (trace) {
      val tStart = elapsed
      while (elapsed - tStart < seconds - untracedFor || tracedWalls.size < minOps) {
        ctx.drainBus()
        val before = ctx.probe.snapshot()
        ctx.probe.drainIntervals()
        val t0 = System.nanoTime()
        val (r, vals) =
          try ctx.tracer.span("op", i)(wl.tracedOp(ctx, i))
          catch { case e: Exception => report(e); (OpResult(0, ok = false), Map.empty[String, Double]) }
        tracedWalls += (System.nanoTime() - t0) / 1e9
        if (!r.ok) failedOps += 1
        ctx.drainBus()
        val d = Probe.delta(ctx.probe.snapshot(), before)
        val counters = Layers.counterValues(d, wl.queryLayers) ++ vals
        counters.foreach { case (k, v) => layerVals.getOrElseUpdate(k, ArrayBuffer.empty) += v }
        dropLeaksAfterOp(count = false)
        i += 1
      }
    }
    val hostAfter = hostProbe()
    val measuredOps = walls.size + tracedWalls.size
    ctx.drainBus()
    val peakMb = ctx.probe.peakCacheBytes / MB

    out.println(f"[perfbench] host probe before/after: compute ${hostBefore._1}%.1f/${hostAfter._1}%.1f ms, " +
      f"thread handoff ${hostBefore._2}%.1f/${hostAfter._2}%.1f us")
    out.println(s"[perfbench] op walls (ms): ${walls.map(w => f"${w * 1000}%.0f").mkString(" ")}")
    val failed = failedOps + checks.count(!_.ok)
    val attempted = measuredOps + checks.size

    val sorted = walls.sorted
    val n = sorted.size
    val p50 = median(sorted.toSeq)
    // Highest percentile with at least ten samples beyond it; the slowest
    // op when there are too few samples for one.
    val (tail, tailPct) = if (n >= 11) (sorted(n - 11), 100.0 * (n - 10) / n) else (sorted.last, 100.0)
    val throughput = items / walls.sum
    val setup = median(setupS.toSeq)
    val endToEnd = Seq(
      ("setup_s", setup, "s"),
      ("throughput_per_s", throughput, "1/s"),
      ("op_p50_ms", p50 * 1000, "ms"),
      ("op_tail_ms", tail * 1000, "ms"),
      ("peak_cache_mb", peakMb, "MB"))

    inputs.foreach { case (k, in) =>
      out.println(s"[perfbench] input $k: rows=${in.rows} bytes=${in.bytes}")
    }
    checks.foreach(c => out.println(s"[perfbench] check ${c.name}: ${if (c.ok) "ok" else "FAILED"} ${c.detail}"))
    setupS.zip(phases).foreach { case (t, p) => out.println(f"[perfbench] setup rep: $t%.3f s = $p") }
    out.println(f"[perfbench] ${wl.name}: ops=$n ${wl.latencyName}_p50=${p50 * 1000}%.2f ms " +
      f"tail=p$tailPct%.1f of n=$n: ${tail * 1000}%.2f ms; leaked_rdds/op=${median(leakedRdds.toSeq)}")
    out.println(s"[perfbench] ${wl.name} end-to-end: setup_s=$setup s; " +
      s"${wl.throughputName}=$throughput 1/s; failed_share=${failed.toDouble / attempted} " +
      s"($failed/$attempted); peak_cache_mb=$peakMb MB" +
      (if (wl.latencyName == "query") s"; query_p50_ms=${p50 * 1000} ms; " +
        f"query_tail_ms=${tail * 1000} ms (p$tailPct%.1f, n=$n)" else ""))

    val metrics: Seq[(String, Double, String)] =
      if (!trace) endToEnd
      else {
        val vals = layerVals.map { case (k, v) => k -> median(v.toSeq) }.toMap ++ Map(
          "pass.leaked_rdds" -> median(leakedRdds.toSeq),
          "pass.leaked_cache_entries" -> median(leakedEntries.toSeq),
          "pass.input_read_ratio" -> median(inputReadRatio.toSeq),
          "trace.overhead_s" -> (median(tracedWalls.toSeq) - p50))
        val spanFile = new File(work, s"traces/${wl.name}-seed$seed.spans.jsonl")
        ctx.tracer.write(spanFile)
        out.println(s"[perfbench] spans: ${spanFile.getPath}")
        Layers.all.map { case (k, unit) => (k, vals.getOrElse(k, 0.0), unit) }
      }
    spark.stop()
    deleteTree(dataRoot)
    val body = metrics.map { case (k, v, u) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }
    out.println(s"""{"correct": ${failed == 0}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${body.mkString(", ")}}}""")
    sys.exit(0)
  }

  /** Host speed, for reading the timings: a fixed single-thread compute
    * loop (ms) and the median round trip of a handoff between two threads
    * (us).
    */
  def hostProbe(): (Double, Double) = {
    val t0 = System.nanoTime()
    var x = 0L
    var k = 0L
    while (k < 20000000L) { x = x * 6364136223846793005L + k; k += 1 }
    val compute = (System.nanoTime() - t0) / 1e6 + (if (x == 42L) 1e-9 else 0.0)
    val ping = new java.util.concurrent.SynchronousQueue[java.lang.Long]()
    val pong = new java.util.concurrent.SynchronousQueue[java.lang.Long]()
    val echo = new Thread(() => (0 until 2000).foreach(_ => pong.put(ping.take())))
    echo.start()
    val trips = Array.tabulate(2000) { j =>
      val t = System.nanoTime(); ping.put(j.toLong); pong.take(); (System.nanoTime() - t) / 1e3
    }
    echo.join()
    (compute, median(trips.toSeq))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  private def report(e: Throwable): Unit = {
    System.err.println(s"[perfbench] operation failed: $e")
    e.printStackTrace()
  }

  /** Bytes read so far through the local Hadoop file system: input files,
    * not cached blocks or shuffle files.
    */
  def fileBytesRead(): Long =
    Option(org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file"))
      .flatMap(st => Option(st.getLong("bytesRead"))).map(_.longValue).getOrElse(0L)

  /** Releases every persisted RDD and cache entry beyond the owned ones,
    * blocking until the blocks are gone so that ops stay independent.
    * Returns true when it had to clear the whole cache, owned entries too.
    */
  def releaseLeaks(ctx: Ctx, ownedRdds: Set[Int], ownedEntries: Int): Boolean = {
    val sc = ctx.spark.sparkContext
    sc.getPersistentRDDs.foreach { case (id, rdd) => if (!ownedRdds(id)) rdd.unpersist(blocking = true) }
    val clear = Internals.cacheEntries(ctx.spark) > ownedEntries
    if (clear) ctx.spark.sharedState.cacheManager.clearCache()
    clear && ownedEntries > 0
  }

  def deleteTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
