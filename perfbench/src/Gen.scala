package perfbench

import java.io.{BufferedWriter, File, FileWriter}
import java.time.Instant

import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. The same seed always yields the same inputs. */
object Gen {

  /** 2021-01-01T00:00:00Z; ticks start here. */
  val StartEpoch = 1609459200L
  val TickSeconds = 900L
  /** Ticks go missing in outages of 1–6 hours, which leave whole hourly
    * buckets empty, plus a few single drops: about 2% of ticks in all.
    */
  val OutageStart = 0.0012
  val SingleDrop = 0.005

  /** One symbol's ticks as written to its CSV (epoch seconds, close). */
  final case class Ticks(symbol: String, path: String, ts: Array[Long], close: Array[Double])

  /** Input size as generated: rows, and bytes of the files on disk. */
  final case class Inputs(rows: Long, bytes: Long)

  /** Random-walk OHLCV ticks, four per hour with about 2% missing, one CSV
    * per symbol (`datetime,open,high,low,close,volume`, the reference's
    * `data/bitstamp` CSV shape). Prices are written with full precision
    * so the CSV round trip is exact.
    */
  def ohlcv(dir: File, seed: Long, symbols: Int, hours: Int): (Array[Ticks], Inputs) = {
    dir.mkdirs()
    var rows = 0L
    val ticks = Array.tabulate(symbols) { s =>
      val rnd = new scala.util.Random(seed * 1000003L + s)
      val symbol = f"SYM$s%02d"
      // Histories end up to a day apart, so sizes vary a little by seed.
      val ticksOf = (hours - rnd.nextInt(24)) * 4
      val sigma = 0.002 + 0.004 * rnd.nextDouble()
      var logp = math.log(50.0 + 200.0 * rnd.nextDouble())
      val ts = ArrayBuffer.empty[Long]
      val close = ArrayBuffer.empty[Double]
      val file = new File(dir, s"$symbol.csv")
      val w = new BufferedWriter(new FileWriter(file))
      try {
        w.write("datetime,open,high,low,close,volume\n")
        var i = 0
        var outage = 0
        while (i < ticksOf) {
          val open = math.exp(logp)
          logp += sigma * rnd.nextGaussian()
          val c = math.exp(logp)
          val hi = math.max(open, c) * (1.0 + 0.001 * math.abs(rnd.nextGaussian()))
          val lo = math.min(open, c) * (1.0 - 0.001 * math.abs(rnd.nextGaussian()))
          val vol = 10.0 * rnd.nextDouble()
          if (outage > 0) outage -= 1
          else if (rnd.nextDouble() < OutageStart) outage = 4 + rnd.nextInt(21)
          val keep = i == 0 || (outage == 0 && rnd.nextDouble() >= SingleDrop)
          if (keep) {
            val t = StartEpoch + i * TickSeconds
            w.write(s"${Instant.ofEpochSecond(t)},$open,$hi,$lo,$c,$vol\n")
            ts += t
            close += c
          }
          i += 1
        }
      } finally w.close()
      rows += ts.length
      Ticks(symbol, file.getAbsolutePath, ts.toArray, close.toArray)
    }
    (ticks, Inputs(rows, ticks.map(t => new File(t.path).length).sum))
  }

  /** Documents with planted near-duplicate clusters. `cluster(i)` is the
    * planted cluster of doc i; docs outside any cluster get their own id.
    * A near-duplicate copies its base document and makes one edit:
    * replace a token, append a token or drop the last token. About 10% of
    * base documents open with one of 20 shared boilerplate headers, so
    * the band join also proposes pairs that the verify step must reject.
    */
  final case class Docs(ids: Array[Long], texts: Array[String], cluster: Array[Int]) {
    def plantedPairs: Long = cluster.groupBy(identity).values
      .map(g => g.length.toLong * (g.length - 1) / 2).sum
  }

  def docs(seed: Long, n: Int, dupShare: Double = 0.2): Docs = {
    val rnd = new scala.util.Random(seed * 7919L + 17L)
    val vocab = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < 8000)
        seen += Iterator.fill(3 + rnd.nextInt(7))(('a' + rnd.nextInt(26)).toChar).mkString
      seen.toArray
    }
    def word() = vocab(rnd.nextInt(vocab.length))
    val headers = Array.fill(20)(Array.fill(25)(word()))
    val texts = ArrayBuffer.empty[Array[String]]
    val cluster = ArrayBuffer.empty[Int]
    var nextCluster = 0
    while (texts.length < n) {
      val len = 80 + rnd.nextInt(81)
      val body = Array.fill(len)(word())
      val base = if (rnd.nextDouble() < 0.1) headers(rnd.nextInt(headers.length)) ++ body else body
      // Clusters of 2–4 (two copies on average), so that copies make up
      // about `dupShare` of docs.
      val copies = if (rnd.nextDouble() < dupShare / (2.0 * (1.0 - dupShare)))
        1 + rnd.nextInt(3) else 0
      val room = math.min(copies, n - texts.length - 1)
      texts += base
      cluster += nextCluster
      (0 until room).foreach { _ =>
        val copy = rnd.nextInt(3) match {
          case 0 => val c = base.clone(); c(rnd.nextInt(c.length)) = word(); c
          case 1 => base :+ word()
          case _ => base.dropRight(1)
        }
        texts += copy
        cluster += nextCluster
      }
      nextCluster += 1
    }
    // Shuffle so a cluster's minimum id is any of its members.
    val order = rnd.shuffle((0 until n).toVector).toArray
    val outTexts = order.map(i => texts(i).mkString(" "))
    val outCluster = order.map(i => cluster(i))
    Docs(Array.tabulate(n)(_.toLong), outTexts, outCluster)
  }
}
