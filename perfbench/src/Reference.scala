package perfbench

import scala.collection.mutable

/** Driver-side brute-force re-implementations of the checked outputs,
  * written from the protocol (reference test.ipynb cell 20) rather than
  * from the engine's plans: hourly right-closed resample with
  * forward fill, per-key 15% tail split, z-scored sliding windows with a
  * mean-pool embedding, exact L1 k-NN, follow-on rescale, top-2 ensemble
  * and MAE. Dedup survivors come from a plain union-find.
  */
object Reference {
  val SeqLen = 48
  val PredWindow = 24
  val Stride = 12
  val EmbedDim = 12
  val ValRatio = 0.15
  private val Eps = 1e-8

  final case class Win(key: String, start: Long, values: Array[Double],
      center: Double, scale: Double, emb: Array[Double])

  /** Hourly close series of one symbol: (first hourly index, closes). A
    * tick at t belongs to bucket ceil(t / 3600); the bucket's last tick
    * wins; empty buckets carry the previous close forward.
    */
  def hourly(t: Gen.Ticks): (Long, Array[Double]) = {
    val idx = t.ts.map(x => math.ceil(x.toDouble / 3600.0).toLong)
    val lo = idx.min
    val out = Array.fill(idx.max.toInt - lo.toInt + 1)(Double.NaN)
    idx.indices.foreach(i => out((idx(i) - lo).toInt) = t.close(i))
    (1 until out.length).foreach(i => if (out(i).isNaN) out(i) = out(i - 1))
    (lo, out)
  }

  /** Sliding windows over `closes` (index of closes(0) is `lo`), dropping
    * near-constant ones as the flagship's windowing documents.
    */
  def windows(key: String, lo: Long, closes: Array[Double]): Array[Win] =
    (0 to closes.length - SeqLen).iterator.map { i =>
      val v = closes.slice(i, i + SeqLen)
      var s = 0.0
      v.foreach(s += _)
      val c = s / SeqLen
      var sq = 0.0
      v.foreach { x => val d = x - c; sq += d * d }
      val sc = math.sqrt(sq / SeqLen)
      val bucket = SeqLen / EmbedDim
      val emb = Array.tabulate(EmbedDim) { j =>
        var z = 0.0
        (j * bucket until (j + 1) * bucket).foreach(m => z += (v(m) - c) / (sc + Eps))
        z / bucket
      }
      Win(key, lo + i, v, c, sc, emb)
    }.filter(_.scale > 1e-6).toArray

  private def l1(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += math.abs(a(i) - b(i)); i += 1 }
    s
  }

  private def rescale(w: Win, follow: Win): Array[Double] =
    follow.values.take(PredWindow).map(v => (v - w.center) / (w.scale + Eps))

  /** Corpus windows that have a full follow-on after them. */
  private def searchable(corpus: Array[Win]): Array[Win] = {
    val maxStart = corpus.groupBy(_.key).view.mapValues(_.map(_.start).max).toMap
    corpus.filter(w => w.start <= maxStart(w.key) - SeqLen)
  }

  /** MAE of one query's forecast: exact k-NN over `corpus` (already
    * follow-on-filtered), top-2 ensemble of the rescaled follow-ons, scored
    * against the query's own rescaled follow-on.
    */
  def queryMae(q: Win, qFollow: Win, corpus: Array[Win],
      byKeyStart: ((String, Long)) => Win): Double = {
    val top = corpus.map(w => (l1(w.emb, q.emb), w))
      .sortBy { case (d, w) => (d, w.start) }.take(2).map(_._2)
    val f = top.map(w => rescale(w, byKeyStart((w.key, w.start + SeqLen))))
    val forecast = if (f.length < 2) f(0) else f(0).zip(f(1)).map { case (a, b) => (a + b) / 2.0 }
    val target = rescale(q, qFollow)
    val l = math.min(forecast.length, target.length)
    var s = 0.0
    (0 until l).foreach(i => s += math.abs(forecast(i) - target(i)))
    s / l
  }

  /** Batch protocol: queries are every `Stride`-th validation window of a
    * symbol, matched against the same symbol's train windows. Returns
    * (symbol, query start) → MAE for every query.
    */
  def batch(ticks: Seq[Gen.Ticks]): Map[(String, Long), Double] =
    ticks.flatMap { t =>
      val (lo, closes) = hourly(t)
      val n = closes.length
      val nVal = math.ceil(n * ValRatio).toInt
      val train = windows(t.symbol, lo, closes.take(n - nVal))
      val vals = windows(t.symbol, lo + (n - nVal), closes.drop(n - nVal))
      val corpus = searchable(train)
      val trainAt = train.map(w => (w.key, w.start) -> w).toMap
      val valAt = vals.map(w => w.start -> w).toMap
      val minStart = vals.map(_.start).min
      val maxStart = vals.map(_.start).max
      vals.filter(w => (w.start - minStart) % Stride == 0 && w.start <= maxStart - SeqLen)
        .map(q => (t.symbol, q.start) -> queryMae(q, valAt(q.start + SeqLen), corpus, trainAt))
    }.toMap

  /** Interactive protocol: a cross-symbol index over full-series windows. */
  final class Index(ticks: Seq[Gen.Ticks]) {
    val wins: Array[Win] = ticks.flatMap { t =>
      val (lo, closes) = hourly(t); windows(t.symbol, lo, closes)
    }.toArray
    private val corpus = searchable(wins)
    private val at = wins.map(w => (w.key, w.start) -> w).toMap
    def mae(q: Win, qFollow: Win): Double = queryMae(q, qFollow, corpus, at)
  }

  /** Minimum-root union-find over undirected pairs: node → component min. */
  def components(pairs: Iterable[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      r
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val ra = find(a); val rb = find(b)
      if (ra != rb) { parent(math.max(ra, rb)) = math.min(ra, rb) }
    }
    parent.keys.map(k => k -> find(k)).toMap
  }
}
