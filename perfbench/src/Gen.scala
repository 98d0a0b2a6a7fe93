package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

import graft.pipeline.Dims
import graft.text.{QualityClassifier, TextFns}

/** Seeded input generators. The same seed gives the same rows; the engine
  * only ever sees the generated frames and files. */
object Gen {

  /** Zipf(s) sampler over ranks [0, n). */
  final class Zipf(n: Int, s: Double, rnd: java.util.Random) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
    }
    def next(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      (if (i >= 0) i else -i - 1).min(n - 1)
    }
  }

  /** The `events` table envelope (`Tables.events` shape). */
  val eventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", TimestampType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** Shape of the telemetry stream: arrival waves shorter than a day, so
    * later waves MERGE into day keys earlier waves created. */
  final case class EventsShape(
      eventsPerWave: Int,
      orphanEvery: Int = 15,      // every 15th event: serial >= Dims.MappedUsers
      replayShare: Double = 0.05, // exact copies of previous-wave events
      lateShare: Double = 0.03,   // 1-12 h late, inside 48 h retention
      zipfS: Double = 1.1,        // serial skew over the mapped users
      waveHours: Int = 6)

  /** Unmapped serials: the ids just above the mapped range. */
  val OrphanSerials = 10

  val T0Micros: Long = (Dims.IntervalStart + 9L * 86400L) * 1000000L
  private val Hour = 3600L * 1000000L
  private val EventTypes = Array("click", "view", "purchase", "signup", "error")

  /** Arrival waves of telemetry events; wave w covers event time
    * [T0 + w*waveHours, T0 + (w+1)*waveHours) plus its late rows. */
  final class Events(seed: Long, shape: EventsShape) {
    private val rnd = new java.util.Random(seed)
    private val zipf = new Zipf(Dims.MappedUsers, shape.zipfS, rnd)
    private var nextId = 0L
    private var prev: IndexedSeq[Row] = IndexedSeq.empty
    private var wave = 0
    /** Late rows generated so far, for the input self-check. */
    var lateRows = 0L

    private def event(tsMicros: Long, orphan: Boolean): Row = {
      val id = nextId; nextId += 1
      val user =
        if (orphan) Dims.MappedUsers + rnd.nextInt(OrphanSerials) else zipf.next()
      Row(id, new java.sql.Timestamp(tsMicros / 1000), user.toLong,
        EventTypes(rnd.nextInt(EventTypes.length)),
        math.round(rnd.nextDouble() * 20000) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }

    def nextWave(): IndexedSeq[Row] = {
      val start = T0Micros + wave * shape.waveHours * Hour
      val span = shape.waveHours * Hour
      val n = shape.eventsPerWave
      val nReplay = if (prev.isEmpty) 0 else (n * shape.replayShare).toInt
      val nLate = if (wave == 0) 0 else (n * shape.lateShare).toInt
      // exact shares, so every seed carries the same amount of each case
      val fresh = (0 until n - nReplay).map { i =>
        val ts = if (i < nLate) start - Hour - (rnd.nextDouble() * 11 * Hour).toLong
          else start + (rnd.nextDouble() * span).toLong
        event(ts, orphan = i % shape.orphanEvery == 0)
      }
      val replays = (0 until nReplay).map(_ => prev(rnd.nextInt(prev.size)))
      val rows = fresh ++ replays
      lateRows += nLate
      prev = fresh
      wave += 1
      rows
    }
  }

  def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  // ---------------------------------------------------------------- corpus

  final case class CorpusShape(
      docs: Int,
      exactShare: Double = 0.10, // verbatim copies of an earlier doc
      nearShare: Double = 0.10,  // copies with one word in 60 replaced
      vocab: Int = 4000,         // rare-word vocabulary (keeps shingles rare)
      minWords: Int = 40,
      maxWords: Int = 160)

  /** Words the engine's quality signals key on, mixed with a large
    * synthetic vocabulary so 3-gram shingles stay rare enough for the
    * near-duplicate blocking to find pairs at any corpus size. */
  private val Common: Array[String] =
    (TextFns.Stopwords ++ QualityClassifier.BoilerplateMarkers ++ Seq(
      "spark", "join", "window", "filter", "stream", "query", "data", "key",
      "value", "vector", "hash", "order", "group", "fast", "slow")).toArray

  val documentsSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  private val Langs = Array("en", "de", "es", "fr", "zh")

  def corpus(seed: Long, shape: CorpusShape): IndexedSeq[Row] = {
    val rnd = new java.util.Random(seed)
    val rare = new Zipf(shape.vocab, 1.0, rnd)
    def word(prose: Boolean): String = {
      val u = rnd.nextDouble()
      if (u < (if (prose) 0.35 else 0.15))
        TextFns.Stopwords(rnd.nextInt(TextFns.Stopwords.size))
      else if (u < 0.55) Common(rnd.nextInt(Common.length))
      else "w" + Integer.toString(rare.next(), 36)
    }
    val texts = mutable.ArrayBuffer[String]()
    // exact shares, in a seeded order: every seed has the same number of
    // verbatim and near copies
    val nExact = (shape.docs * shape.exactShare).toInt
    val nNear = (shape.docs * shape.nearShare).toInt
    val kind = new scala.util.Random(rnd.nextLong()).shuffle(
      Seq.fill(nExact)(1) ++ Seq.fill(nNear)(2) ++
        Seq.fill(shape.docs - nExact - nNear)(0)).toIndexedSeq
    (0 until shape.docs).map { id =>
      val k = if (texts.isEmpty) 0 else kind(id)
      val text =
        if (k == 1)
          texts(rnd.nextInt(texts.size))
        else if (k == 2) {
          val ws = texts(rnd.nextInt(texts.size)).split(' ')
          (0 to ws.length / 60).foreach { _ =>
            ws(rnd.nextInt(ws.length)) = word(prose = true)
          }
          ws.mkString(" ")
        } else {
          val prose = rnd.nextDouble() < 0.6
          val n = shape.minWords + rnd.nextInt(shape.maxWords - shape.minWords)
          val t = Seq.fill(n)(word(prose)).mkString(" ")
          texts += t
          t
        }
      Row(id.toLong, text, Langs(rnd.nextInt(Langs.length)),
        "src" + rnd.nextInt(5), text.length.toLong)
    }
  }
}
