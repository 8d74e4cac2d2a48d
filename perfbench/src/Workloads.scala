package perfbench

import java.io.File


import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import graft.Flagship
import graft.ohlcv.{Forecast, Ingest, TimeSeriesOps, Windows}
import graft.text.{Dedup, TextOps}

/** Shared OHLCV front end: one CSV per symbol through the ingest and
  * time-series layers, as a (user_id, idx, close) hourly series.
  */
object Ohlcv {
  val Tol = 1e-9
  private val Lvl = StorageLevel.MEMORY_AND_DISK

  def scan(spark: SparkSession, ticks: Seq[Gen.Ticks]): DataFrame =
    ticks.map(t => Ingest.readCsv(spark, t.path, t.symbol)).reduce(_ union _)

  def hourly(raw: DataFrame): DataFrame =
    TimeSeriesOps.resampleOhlcv(raw, "symbol", "datetime", 3600)
      .withColumn("idx", (unix_timestamp(col("datetime")) / 3600).cast("long"))

  def filled(hourly: DataFrame): DataFrame =
    TimeSeriesOps.ffill(hourly, "symbol", "idx", Seq("close"))
      .select(col("symbol").as("user_id"), col("idx"), col("close"))

  def series(spark: SparkSession, ticks: Seq[Gen.Ticks]): DataFrame =
    filled(hourly(scan(spark, ticks)))

  /** Persists and counts `df`: materializes a layer boundary. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist(Lvl)
    (p, p.count())
  }

  def close(a: Double, b: Double): Boolean = math.abs(a - b) <= Tol * math.max(1.0, math.abs(b))
}

/** The leakage-free evaluation protocol over the whole corpus: every
  * validation query of every symbol, scored, summarised.
  */
final class ForecastBatch(symbols: Int, hours: Int) extends Workload {
  import Reference.{PredWindow, SeqLen, Stride}
  val name = "forecast_batch"
  val throughputName = "forecasts_per_s"
  val latencyName = "pass"
  val minOps = 2

  private var ticks: Array[Gen.Ticks] = Array.empty
  private var expected: Map[(String, Long), Double] = Map.empty
  private var expectedSummary = (0.0, 0.0)
  /** The first timed pass's summary; every later one must repeat it bit for bit. */
  private var firstSummary: Option[(Double, Double)] = None

  def generate(ctx: Ctx, dir: File): Seq[(String, Gen.Inputs)] = {
    val (t, in) = Gen.ohlcv(dir, ctx.seed, symbols, hours)
    ticks = t
    Seq("ohlcv_ticks" -> in)
  }

  def reference(): Unit = {
    expected = Reference.batch(ticks.toSeq)
    val e = expected.values.toSeq
    val mean = e.sum / e.size
    expectedSummary = (mean, math.sqrt(e.map(x => (x - mean) * (x - mean)).sum / e.size))
  }

  private def summary(scored: DataFrame): (Double, Double) = {
    val r = Forecast.errorSummary(scored).collect()(0)
    (r.getDouble(0), r.getDouble(1))
  }

  private def scoredPass(spark: SparkSession): DataFrame =
    Flagship.scoredQueriesSplit(Ohlcv.series(spark, ticks.toSeq))

  private def nearExpected(s: (Double, Double)): Boolean =
    Ohlcv.close(s._1, expectedSummary._1) && Ohlcv.close(s._2, expectedSummary._2)

  def warmUp(ctx: Ctx): Unit = summary(scoredPass(ctx.spark))

  def op(ctx: Ctx, i: Int): OpResult = {
    val s = summary(scoredPass(ctx.spark))
    if (firstSummary.isEmpty) firstSummary = Some(s)
    OpResult(expected.size.toLong, firstSummary.contains(s) && nearExpected(s))
  }

  def tracedOp(ctx: Ctx, i: Int): (OpResult, Map[String, Double]) = {
    val spark = ctx.spark
    val (raw, ingestS) = ctx.layer("ingest", i)(Ohlcv.materialize(Ohlcv.scan(spark, ticks.toSeq)))
    val ((series, hourlyRows), tsS) = ctx.layer("timeseries", i) {
      val h = Ohlcv.hourly(raw._1)
      (Ohlcv.materialize(Ohlcv.filled(h)), h)
    }
    val (gaps, _) = ctx.layer("trace", i)(hourlyRows.filter(col("close").isNull).count())
    val ((train, valW, winRows), winS) = ctx.layer("windows", i) {
      val split = Windows.withTailSplit(series._1, "user_id", "idx", 0.15)
      val (tw, tn) = Ohlcv.materialize(Flagship.embeddedWindows(split.filter(!col("is_val")).drop("is_val")))
      val (vw, vn) = Ohlcv.materialize(Flagship.embeddedWindows(split.filter(col("is_val")).drop("is_val")))
      (tw, vw, (tn, vn))
    }
    val queryHint = winRows._2 / Stride + 1024
    val (top, searchS) = ctx.layer("search", i) {
      Ohlcv.materialize(Forecast.evaluateSplit(train, valW, "user_id", SeqLen, PredWindow,
        Stride, Flagship.TopK, "l1", queryCountHint = Some(queryHint)))._1
    }
    val (pairs, bcast) = Plans.knnJoin(spark, top).getOrElse((-1L, false))
    val ((errSummary, queries), scoreS) = ctx.layer("forecast", i) {
      val (scored, n) = Ohlcv.materialize(Forecast.forecastAndScoreSplit(top, train, valW,
        "user_id", SeqLen, PredWindow, broadcastTop = queryHint <= (1L << 18)))
      val s = summary(scored)
      scored.unpersist(blocking = true)
      (s, n)
    }
    val vals = Map(
      "ingest.scan_s" -> ingestS, "ingest.rows_in" -> raw._2.toDouble,
      "timeseries.resample_ffill_s" -> tsS, "timeseries.rows_out" -> series._2.toDouble,
      "timeseries.filled_share" -> gaps.toDouble / series._2,
      "windows.build_s" -> winS, "windows.rows" -> (winRows._1 + winRows._2).toDouble,
      "search.s" -> searchS, "search.pairs_scored" -> pairs.toDouble,
      "search.kept_ratio" -> Flagship.TopK.toDouble * queries / pairs,
      "search.broadcast" -> (if (bcast) 1.0 else 0.0),
      "forecast.score_s" -> scoreS, "forecast.queries" -> queries.toDouble)
    Seq(raw._1, series._1, train, valW, top).foreach(_.unpersist(blocking = true))
    (OpResult(expected.size.toLong, nearExpected(errSummary) && queries == expected.size), vals)
  }

  def checks(ctx: Ctx): Seq[Check] = {
    val got = scoredPass(ctx.spark).collect()
      .map(r => (r.getString(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val errs = expected.map { case (k, v) => got.get(k).map(g => math.abs(g - v)).getOrElse(Double.PositiveInfinity) }
    val maxErr = if (errs.isEmpty) Double.PositiveInfinity else errs.max
    Seq(Check("forecast_mae_vs_bruteforce", got.size == expected.size && maxErr <= Ohlcv.Tol,
      s"queries=${got.size} expected=${expected.size} max_abs_err=$maxErr"))
  }
}

/** The paper's one real query asked one at a time: a held-out window plus
  * its true follow-on against a prebuilt, persisted window index.
  */
final class ForecastInteractive(symbols: Int, hours: Int) extends Workload {
  import Reference.{PredWindow, SeqLen, Stride}
  val name = "forecast_interactive"
  val throughputName = "queries_per_s"
  val latencyName = "query"
  /** Enough queries for a tail percentile (p72 has ten samples beyond
    * it) and to get past most of the JVM's warm-up: query times keep
    * falling for the first ~35 queries.
    */
  val minOps = 36
  val CheckQueries = 2
  override val queryLayers = Seq("search", "forecast")

  private var ticks: Array[Gen.Ticks] = Array.empty
  private var index: DataFrame = _
  private var held: Map[Long, Row] = Map.empty
  private var schema: StructType = _
  private var starts: Array[Long] = Array.empty
  private var ref: Reference.Index = _
  private var refHeld: Map[Long, Reference.Win] = Map.empty
  private var refMae = Map.empty[Long, Double]

  def generate(ctx: Ctx, dir: File): Seq[(String, Gen.Inputs)] = {
    val (t, in) = Gen.ohlcv(dir, ctx.seed, symbols, hours)
    ticks = t
    Seq("ohlcv_ticks" -> in)
  }

  /** The index, and the held-out symbol's windows as query rows. */
  override def build(ctx: Ctx): Unit = {
    index = Ohlcv.materialize(Flagship.embeddedWindows(Ohlcv.series(ctx.spark, ticks.init.toSeq)))._1
    val rows = Flagship.embeddedWindows(Ohlcv.series(ctx.spark, Seq(ticks.last))).collect()
    schema = rows.head.schema
    held = rows.map(r => r.getAs[Long]("start_idx") -> r).toMap
    val maxStart = held.keys.max
    val valid = held.keys.filter(s => s <= maxStart - SeqLen && held.contains(s + SeqLen)).toArray.sorted
    starts = new scala.util.Random(ctx.seed).shuffle(valid.toVector).toArray
  }

  def warmUp(ctx: Ctx): Unit = answer(ctx.spark, starts(0))

  def reference(): Unit = {
    ref = new Reference.Index(ticks.init.toSeq)
    val (lo, closes) = Reference.hourly(ticks.last)
    refHeld = Reference.windows(ticks.last.symbol, lo, closes).map(w => w.start -> w).toMap
  }

  private def queryFrame(spark: SparkSession, s: Long): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(held(s), held(s + SeqLen)), schema)

  private def check(s: Long, rows: Array[Row]): OpResult = {
    val want = refMae.getOrElse(s, {
      val m = ref.mae(refHeld(s), refHeld(s + SeqLen)); refMae += s -> m; m
    })
    OpResult(1, rows.length == 1 && rows(0).getLong(1) == s && Ohlcv.close(rows(0).getDouble(2), want))
  }

  private def search(q: DataFrame): DataFrame =
    Forecast.evaluateSplit(index, q, "user_id", SeqLen, PredWindow, Stride, Flagship.TopK, "l1",
      crossKey = true)

  private def answer(spark: SparkSession, s: Long): Array[Row] = {
    val q = queryFrame(spark, s)
    Forecast.forecastAndScoreSplit(search(q), index, q, "user_id", SeqLen, PredWindow).collect()
  }

  def op(ctx: Ctx, i: Int): OpResult = {
    val s = starts(i % starts.length)
    check(s, answer(ctx.spark, s))
  }

  def tracedOp(ctx: Ctx, i: Int): (OpResult, Map[String, Double]) = {
    val s = starts(i % starts.length)
    val lo = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = queryFrame(ctx.spark, s)
    val (top, searchS) = ctx.layer("search", i)(Ohlcv.materialize(search(q))._1)
    val (pairs, bcast) = Plans.knnJoin(ctx.spark, top).getOrElse((-1L, false))
    val (rows, scoreS) = ctx.layer("forecast", i) {
      Forecast.forecastAndScoreSplit(top, index, q, "user_id", SeqLen, PredWindow).collect()
    }
    val wall = (System.nanoTime() - t0) / 1e9
    val hi = System.currentTimeMillis()
    top.unpersist(blocking = true)
    ctx.drainBus()
    val taskCovered = Probe.covered(ctx.probe.drainIntervals(), lo, hi) / 1e3
    val vals = Map(
      "search.s" -> searchS, "search.pairs_scored" -> pairs.toDouble,
      "search.kept_ratio" -> Flagship.TopK.toDouble / pairs,
      "search.broadcast" -> (if (bcast) 1.0 else 0.0),
      "forecast.score_s" -> scoreS, "forecast.queries" -> rows.length.toDouble,
      "query.search_s" -> searchS, "query.score_s" -> scoreS,
      "query.driver_s" -> (wall - taskCovered))
    (check(s, rows), vals)
  }

  /** Queries from the far end of the seeded order; the timed loop starts
    * at its front. Every timed query is checked as well.
    */
  def checks(ctx: Ctx): Seq[Check] = {
    val ok = (1 to CheckQueries).count(j => op(ctx, starts.length - j).ok)
    Seq(Check("query_mae_vs_bruteforce", ok == CheckQueries,
      s"queries=$CheckQueries matching=$ok"))
  }
}

/** The banded near-duplicate recipe: MinHash LSH candidates, SimHash-60
  * verify at Hamming ≤ 6, connected components, left-anti apply.
  */
final class DedupCuration(docs: Int) extends Workload {
  val name = "dedup_curation"
  val throughputName = "docs_per_s"
  val latencyName = "pass"
  val minOps = 2
  val RecallFloor = 0.8
  val PrecisionFloor = 0.99

  private var gen: Gen.Docs = _
  private var path: String = _
  private var expectedSurvivors: Array[Long] = Array.empty

  def generate(ctx: Ctx, dir: File): Seq[(String, Gen.Inputs)] = {
    val d = Gen.docs(ctx.seed, docs)
    gen = d
    path = new File(dir, "documents").getAbsolutePath
    val rows = new java.util.ArrayList[Row](docs)
    d.ids.indices.foreach(i => rows.add(Row(d.ids(i), d.texts(i))))
    val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
    ctx.spark.createDataFrame(rows, schema).write.parquet(path)
    val onDisk = new File(path).listFiles().filter(_.getName.endsWith(".parquet")).map(_.length).sum
    Seq("documents" -> Gen.Inputs(docs.toLong, onDisk))
  }

  private def candidates(docsDf: DataFrame): DataFrame =
    Dedup.minhashLshPairs(docsDf, "doc_id", "text", shingleN = 3, numHashes = 12, bands = 4)
      .select("id_a", "id_b")

  private def fingerprints(docsDf: DataFrame): DataFrame =
    Dedup.simhashAgg(docsDf, "doc_id", TextOps.wordShingles(col("text"), 3), 60)

  private def verify(cand: DataFrame, fps: DataFrame): DataFrame =
    cand
      .join(fps.select(col("doc_id").as("id_a"), col("simhash").as("__fa")), "id_a")
      .join(fps.select(col("doc_id").as("id_b"), col("simhash").as("__fb")), "id_b")
      .withColumn("hamming", Dedup.hamming(col("__fa"), col("__fb")))
      .filter(col("hamming") <= 6)
      .select("id_a", "id_b")

  private def apply(docsDf: DataFrame, clusters: DataFrame): DataFrame = {
    val losers = clusters.filter(col("id") =!= col("cluster")).select(col("id").as("doc_id"))
    docsDf.join(losers, Seq("doc_id"), "left_anti").select("doc_id")
  }

  private def ids(df: DataFrame): Array[Long] = df.collect().map(_.getLong(0)).sorted

  /** One pass; returns the survivors and, when asked, the verified pairs. */
  private def pass(spark: SparkSession, keepPairs: Boolean): (Array[Long], Array[(Long, Long)]) = {
    val d = spark.read.parquet(path)
    // Both join sides read the fingerprints: persist them once, as the
    // engine's banded recipe does, and release them after the pass.
    val (fps, _) = Ohlcv.materialize(fingerprints(d))
    try {
      if (keepPairs) {
        val (verified, _) = Ohlcv.materialize(verify(candidates(d), fps))
        try {
          val pairs = verified.collect().map(r => (r.getLong(0), r.getLong(1)))
          (ids(apply(d, Dedup.connectedComponents(verified))), pairs)
        } finally verified.unpersist(blocking = true)
      } else (ids(apply(d, Dedup.connectedComponents(verify(candidates(d), fps)))), Array.empty[(Long, Long)])
    } finally fps.unpersist(blocking = true)
  }

  def warmUp(ctx: Ctx): Unit = pass(ctx.spark, keepPairs = false)

  def reference(): Unit = ()

  def op(ctx: Ctx, i: Int): OpResult = {
    val got = pass(ctx.spark, keepPairs = false)._1
    OpResult(docs.toLong, java.util.Arrays.equals(got, expectedSurvivors))
  }

  def tracedOp(ctx: Ctx, i: Int): (OpResult, Map[String, Double]) = {
    val spark = ctx.spark
    val d = spark.read.parquet(path)
    val ((cand, nCand), bandS) = ctx.layer("dedup.signature_band", i)(Ohlcv.materialize(candidates(d)))
    val (((verified, nVer), fps), verS) = ctx.layer("dedup.verify", i) {
      val (fps, _) = Ohlcv.materialize(fingerprints(d))
      (Ohlcv.materialize(verify(cand, fps)), fps)
    }
    val rounds = new java.util.concurrent.atomic.AtomicInteger(0)
    val ((clusters, _), ccS) = ctx.layer("dedup.cluster", i)(
      Ohlcv.materialize(Dedup.connectedComponents(verified, roundsOut = rounds)))
    val (got, applyS) = ctx.layer("dedup.apply", i)(ids(apply(d, clusters)))
    Seq(cand, fps, verified, clusters).foreach(_.unpersist(blocking = true))
    val vals = Map(
      "dedup.signature_band_s" -> bandS, "dedup.candidates" -> nCand.toDouble,
      "dedup.verify_s" -> verS, "dedup.verified" -> nVer.toDouble,
      "dedup.verify_yield" -> (if (nCand == 0) 0.0 else nVer.toDouble / nCand),
      "dedup.cluster_s" -> ccS, "dedup.cc_rounds" -> rounds.get.toDouble,
      "dedup.apply_s" -> applyS, "dedup.survivors" -> got.length.toDouble)
    (OpResult(docs.toLong, java.util.Arrays.equals(got, expectedSurvivors)), vals)
  }

  def checks(ctx: Ctx): Seq[Check] = {
    val (survivors, pairs) = pass(ctx.spark, keepPairs = true)
    val comp = Reference.components(pairs.toSeq)
    val losers = comp.filter { case (k, root) => k != root }.keySet
    val want = gen.ids.filterNot(losers).sorted
    val samePlanted = pairs.count { case (a, b) => gen.cluster(a.toInt) == gen.cluster(b.toInt) }
    val precision = if (pairs.isEmpty) 0.0 else samePlanted.toDouble / pairs.length
    val planted = gen.plantedPairs
    val found = gen.cluster.indices.groupBy(gen.cluster(_)).values.map { members =>
      val roots = members.map(m => comp.getOrElse(m.toLong, m.toLong))
      roots.groupBy(identity).values.map(g => g.size.toLong * (g.size - 1) / 2).sum
    }.sum
    val recall = if (planted == 0) 1.0 else found.toDouble / planted
    expectedSurvivors = want
    Seq(
      Check("survivors_vs_union_find", java.util.Arrays.equals(survivors, want),
        s"survivors=${survivors.length} union_find=${want.length}"),
      Check("planted_recall", recall >= RecallFloor,
        f"recall=$recall%.4f floor=$RecallFloor planted_pairs=$planted"),
      Check("planted_precision", precision >= PrecisionFloor,
        f"precision=$precision%.4f floor=$PrecisionFloor verified_pairs=${pairs.length}"))
  }
}
