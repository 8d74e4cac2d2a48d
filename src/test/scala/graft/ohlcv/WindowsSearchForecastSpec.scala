package graft.ohlcv

import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ListenerBridge
import graft.SparkSpec

class WindowsSearchForecastSpec extends SparkSpec {
  import spark.implicits._

  test("slidingZscored: count = n - len + 1, population sigma, eps") {
    val df = (0 until 10).map(i => ("a", i.toLong, i.toDouble))
      .toDF("symbol", "idx", "close")
    val out = Windows.slidingZscored(df, "symbol", "idx", "close", len = 4)
      .orderBy("start_idx").collect()
    assert(out.length == 7) // 10 - 4 + 1
    val first = out.head
    assert(approx(first.getAs[Double]("center"), 1.5))
    // population std of (0,1,2,3) = sqrt(1.25)
    assert(approx(first.getAs[Double]("scale"), math.sqrt(1.25)))
    val z = first.getAs[scala.collection.Seq[Double]]("zvalues")
    assert(approx(z.head, (0.0 - 1.5) / (math.sqrt(1.25) + 1e-8)))
  }

  test("slidingZscored: constant window gets scale 0 and finite zvalues via eps") {
    val df = (0 until 4).map(i => ("a", i.toLong, 7.0)).toDF("symbol", "idx", "close")
    val out = Windows.slidingZscored(df, "symbol", "idx", "close", len = 4).collect()
    assert(out.head.getAs[Double]("scale") == 0.0)
    assert(out.head.getAs[scala.collection.Seq[Double]]("zvalues").forall(_ == 0.0))
  }

  test("withTailSplit marks the last ceil(n*ratio) rows as validation") {
    val df = (1 to 10).map(i => ("a", i.toLong)).toDF("symbol", "idx")
    val out = Windows.withTailSplit(df, "symbol", "idx", 0.15)
    assert(out.filter(col("is_val")).agg(min("idx")).head.getLong(0) == 9L)
  }

  test("distance metrics match hand-computed values") {
    val df = Seq((1L, Seq(1.0, 2.0, 3.0)), (2L, Seq(4.0, 0.0, 3.0)))
      .toDF("id", "v")
    val q = Seq(1.0, 0.0, 0.0)
    val out = df.select(
      Search.l1(col("v"), array(q.map(lit): _*)).as("l1"),
      Search.l2(col("v"), array(q.map(lit): _*)).as("l2"),
      Search.cosine(col("v"), array(q.map(lit): _*)).as("cos"))
      .orderBy("l1").collect()
    // id=1: l1 = |1-1|+|2-0|+|3-0| = 5 ; l2 = sqrt(0+4+9)
    assert(approx(out(0).getAs[Double]("l1"), 5.0))
    assert(approx(out(0).getAs[Double]("l2"), math.sqrt(13.0)))
    assert(approx(out(0).getAs[Double]("cos"), 1.0 / math.sqrt(14.0)))
  }

  test("knnJoin: deterministic ties by corpus id, k bound, per-query ranks") {
    val corpus = Seq((10L, Seq(1.0, 0.0)), (11L, Seq(1.0, 0.0)), (12L, Seq(0.0, 1.0)))
      .toDF("cid", "v")
    val queries = Seq((1L, Seq(1.0, 0.0))).toDF("qid", "qv")
    val out = Search.knnJoin(corpus, queries, "cid", "v", "qid", "qv", 2, "l2")
      .orderBy("rank").select("cid").as[Long].collect()
    assert(out.toSeq == Seq(10L, 11L)) // tie on dist 0 broken by id
  }

  test("ensemble2 truncates to min length and averages") {
    val df = Seq((Seq(2.0, 4.0, 6.0), Seq(4.0, 8.0))).toDF("a", "b")
    val out = df.select(Forecast.ensemble2(col("a"), col("b"))).as[Seq[Double]].head()
    assert(out == Seq(3.0, 6.0))
  }

  test("mae over aligned prefix") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(2.0, 2.0))).toDF("p", "t")
    val out = df.select(Forecast.mae(col("p"), col("t"))).as[Double].head()
    assert(approx(out, 0.5)) // (|1-2| + |2-2|) / 2
  }

  test("flagship evaluate + forecastAndScore: follow-on join picks the window seqLen after the match") {
    // Deterministic sawtooth so a query window's best match has a known
    // follow-on; mostly a smoke-shape test: every scored row finite.
    val n = 60
    val df = (0 until n).map(i => ("a", i.toLong, math.sin(i / 3.0) * 10 + i * 0.1))
      .toDF("user_id", "idx", "close")
    val wins = Windows.slidingZscored(df, "user_id", "idx", "close", len = 12)
      .withColumn("embedding", Encode.meanPool(col("zvalues"), 12, 4))
    val top = Forecast.evaluate(wins, "user_id", seqLen = 12, predWindow = 6,
      stride = 6, k = 2, metricName = "l1")
    val scored = Forecast.forecastAndScore(top, wins, "user_id", 12, 6)
    val rows = scored.collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(!r.getAs[Double]("mae_err").isNaN))
  }

  test("evaluateSplit over-limit fallback: identical rows with given planes, shuffled join") {
    val n = 80
    val df = (0 until n).map(i => ("a", i.toLong, math.sin(i / 3.0) * 10 + i * 0.1))
      .toDF("user_id", "idx", "close")
    val wins = Windows.slidingZscored(df, "user_id", "idx", "close", len = 12)
      .withColumn("embedding", Encode.meanPool(col("zvalues"), 12, 4))
    val planes = Encode.randomProjectionMatrix(4, 2, 7L)
    def run(limit: Long) = Forecast.evaluateSplit(wins, wins, "user_id",
      seqLen = 12, predWindow = 6, stride = 6, k = 2, metricName = "l1",
      excludeSelf = true, lshPlanes = Some(planes), broadcastQueryLimit = limit)
      .select("q_key", "q_start", "start_idx", "rank")
      .as[(String, Long, Long, Int)].collect().toSet
    val broadcastRows = run(Long.MaxValue)
    val fallbackRows = run(0L) // force the over-limit branch
    assert(broadcastRows == fallbackRows && broadcastRows.nonEmpty)
  }

  test("evaluateSplit keyed over-limit fallback stays EXACT without planes") {
    // The keyed path already carries an equi-condition; over the
    // broadcast limit it must drop the hint, not switch to ANN.
    val n = 80
    val df = (0 until n).map(i => ("a", i.toLong, math.sin(i / 3.0) * 10 + i * 0.1))
      .toDF("user_id", "idx", "close")
    val wins = Windows.slidingZscored(df, "user_id", "idx", "close", len = 12)
      .withColumn("embedding", Encode.meanPool(col("zvalues"), 12, 4))
    def run(limit: Long) = Forecast.evaluateSplit(wins, wins, "user_id",
      seqLen = 12, predWindow = 6, stride = 6, k = 2, metricName = "l1",
      excludeSelf = true, broadcastQueryLimit = limit)
      .select("q_key", "q_start", "start_idx", "rank")
      .as[(String, Long, Long, Int)].collect().toSet
    assert(run(0L) == run(Long.MaxValue) && run(0L).nonEmpty)
  }

  test("evaluateSplit crossKey over-limit auto-derives planes (ANN semantics)") {
    val n = 80
    val df = (0 until n).flatMap(i => Seq(
      ("a", i.toLong, math.sin(i / 3.0) * 10 + i * 0.1),
      ("b", i.toLong, math.cos(i / 4.0) * 8 + i * 0.2)))
      .toDF("user_id", "idx", "close")
    val wins = Windows.slidingZscored(df, "user_id", "idx", "close", len = 12)
      .withColumn("embedding", Encode.meanPool(col("zvalues"), 12, 4))
    val out = Forecast.evaluateSplit(wins, wins, "user_id",
      seqLen = 12, predWindow = 6, stride = 6, k = 2, metricName = "l1",
      excludeSelf = true, crossKey = true, broadcastQueryLimit = 0L)
      .select("q_key", "q_start", "rank").as[(String, Long, Int)].collect()
    assert(out.nonEmpty)
    // ANN semantics: per-query ranks are contiguous from 1 (a bucket may
    // hold fewer than k candidates, never more than k survivors).
    out.groupBy(r => (r._1, r._2)).values.foreach { rs =>
      assert(rs.map(_._3).sorted.toSeq == (1 to rs.length).toSeq)
    }
  }

  test("evaluateSplit queryCountHint drives the branch without changing rows") {
    val n = 80
    val df = (0 until n).map(i => ("a", i.toLong, math.sin(i / 3.0) * 10 + i * 0.1))
      .toDF("user_id", "idx", "close")
    val wins = Windows.slidingZscored(df, "user_id", "idx", "close", len = 12)
      .withColumn("embedding", Encode.meanPool(col("zvalues"), 12, 4))
    def run(hint: Long) = Forecast.evaluateSplit(wins, wins, "user_id",
      seqLen = 12, predWindow = 6, stride = 6, k = 2, metricName = "l1",
      excludeSelf = true, queryCountHint = Some(hint))
      .select("q_key", "q_start", "start_idx", "rank")
      .as[(String, Long, Long, Int)].collect().toSet
    // A huge hint forces the shuffled branch; a small one the broadcast
    // branch — identical rows either way (keyed path is always exact).
    assert(run(Long.MaxValue) == run(1L) && run(1L).nonEmpty)
  }

  private def twoKeyWins(n: Int) =
    Windows.slidingZscored((0 until n).flatMap(i => Seq(
      ("a", i.toLong, math.sin(i / 3.0) * 10 + i * 0.1),
      ("b", i.toLong, math.cos(i / 4.0) * 8 + i * 0.2)))
      .toDF("user_id", "idx", "close"), "user_id", "idx", "close", len = 12)
      .withColumn("embedding", Encode.meanPool(col("zvalues"), 12, 4))

  test("evaluateSplit local query side equals the distributed one, null keys dropped") {
    val wins = twoKeyWins(80)
    // One null-key query: a window and its follow-on, which the stride
    // and follow-on filter alone would keep.
    val nullKey = wins.filter(col("user_id") === "a" && col("start_idx").isin(0L, 12L))
      .withColumn("user_id", lit(null).cast("string"))
    val queries = wins.unionByName(nullKey)
    // 2 × 69 windows + the null-key pair before the stride, 2 × 10 after:
    // a limit between the two forces the distributed stride while the
    // strided count still selects the exact broadcast search.
    assert(queries.count() == 140L)
    def run(crossKey: Boolean, limit: Long) = {
      val top = Forecast.evaluateSplit(wins, queries, "user_id",
        seqLen = 12, predWindow = 6, stride = 6, k = 2, metricName = "l1",
        excludeSelf = true, crossKey = crossKey, broadcastQueryLimit = limit)
      val local = top.queryExecution.analyzed.collect {
        case r: LocalRelation if r.output.exists(_.name == "embedding") => r
      }.nonEmpty
      val rows = top.select("q_key", "q_start", "start_idx", "rank")
        .as[(String, Long, Long, Int)].collect().toSet
      (local, rows)
    }
    for (crossKey <- Seq(false, true)) {
      val (localPath, localRows) = run(crossKey, 1L << 18)
      val (distPath, distRows) = run(crossKey, 64L)
      assert(localPath && !distPath)
      assert(localRows == distRows)
      assert(localRows.map(r => (r._1, r._2)).size == 20)
      assert(localRows.forall(_._1 != null))
    }
  }

  test("evaluateSplit fires no Spark job while built over a local query frame") {
    val wins = twoKeyWins(80).persist()
    try {
      wins.count()
      val rows = wins.filter(col("user_id") === "b" && col("start_idx").isin(30L, 42L)).collect()
      val q = spark.createDataFrame(rows.toSeq.asJava, wins.schema)
      val group = "evaluateSplit-build"
      val jobs = new AtomicInteger()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
            jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(listener)
      val top = try {
        spark.sparkContext.setJobGroup(group, "build evaluateSplit")
        try Forecast.evaluateSplit(wins, q, "user_id", seqLen = 12, predWindow = 6,
          stride = 6, k = 3, metricName = "l1", crossKey = true)
        finally spark.sparkContext.clearJobGroup()
      } finally {
        ListenerBridge.waitUntilListenerBusEmpty(spark)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(jobs.get == 0)
      assert(top.select("q_start").as[Long].collect().toSeq == Seq(30L, 30L, 30L))
    } finally wins.unpersist()
  }

  test("meanPool: 8->2 buckets") {
    val df = Seq(Tuple1(Seq(1.0, 1.0, 3.0, 3.0, 10.0, 10.0, 20.0, 20.0))).toDF("v")
    val out = df.select(Encode.meanPool(col("v"), 8, 2)).as[Seq[Double]].head()
    assert(out == Seq(2.0, 15.0))
  }

  test("linearProject applies matrix rows as dot products") {
    val df = Seq(Tuple1(Seq(1.0, 2.0))).toDF("v")
    val m = Array(Array(1.0, 0.0), Array(10.0, 1.0))
    val out = df.select(Encode.linearProject(col("v"), m)).as[Seq[Double]].head()
    assert(out == Seq(1.0, 12.0))
  }
}
