package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom
import scala.collection.mutable

/** Seeded input generators. Every input is a pure function of
  * (seed, stream, index), so file k of a run can be generated on demand
  * and the same seed always yields byte-identical files. The program
  * under test only ever sees the rendered files; the expected end state
  * (the manifest) is simulated here, independently of the program. */
object Gen {

  def rng(seed: Long, stream: Long, index: Long): SplittableRandom =
    new SplittableRandom(mix(mix(seed * 0x9E3779B97F4A7C15L + stream),
      index))

  private def mix(a: Long, b: Long = 0L): Long = {
    var z = a + b * 0xD6E8FEB86659FD93L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** 64-bit FNV-1a — the row hash both sides of a checksum use. */
  def fnv64(s: String): Long = {
    var h = 0xCBF29CE484222325L
    var i = 0
    while (i < s.length) {
      h = (h ^ s.charAt(i)) * 0x100000001B3L
      i += 1
    }
    h
  }

  // ---------------------------------------------------------------- sensor

  /** The four `CsvIngest.DefaultFormats`, so every row's DateTime costs a
    * different number of parse attempts in the fallback chain. */
  val DateFormats: IndexedSeq[DateTimeFormatter] = IndexedSeq(
    "yyyy-MM-dd HH:mm:ss", "MM/dd/yyyy HH:mm:ss",
    "dd.MM.yyyy HH:mm:ss", "yyyy-MM-dd'T'HH:mm:ss")
    .map(DateTimeFormatter.ofPattern)
  val Header = "DateTime,Sensor_id,LAT,LONG,PM25,PM10,TEMP"
  val ValueCols: Seq[String] = Seq("LAT", "LONG", "PM25", "PM10", "TEMP")
  val BaseEpoch = 1704067200L // 2024-01-01T00:00:00Z

  /** One CSV row: its primary key (minute slot, sensor), the DateTime
    * format it is rendered in, and the five value tokens ("" = empty). */
  final case class SensorRow(minute: Long, sensor: Int, fmt: Int,
      values: Array[String]) {
    def key: Long = minute * 1000L + sensor
    def epochSec: Long = BaseEpoch + minute * 60L
  }

  def sensorId(s: Int): String = f"S-$s%03d"

  private def dec(v: Long, scale: Int): String = {
    val p = math.pow(10, scale).toLong
    val sign = if (v < 0) "-" else ""
    val a = math.abs(v)
    val frac = (a % p).toString
    s"$sign${a / p}.${"0" * (scale - frac.length)}$frac"
  }

  /** A family of sensor CSV files: file k holds `sizes(k)` rows. About
    * `dupFrac` of each file's rows repeat a primary key: half of those an
    * earlier row of the same file, half a row of an earlier file (file 0
    * repeats only within itself). `emptyFrac` of the PM10/TEMP fields are
    * empty. Fresh keys advance through a per-file window of minute slots,
    * so keys never collide by accident. */
  final class SensorFiles(seed: Long, stream: Long, sizes: Int => Int,
      sensors: Int, dupFrac: Double, emptyFrac: Double) {

    private val bases = mutable.ArrayBuffer(0L)
    private def slots(k: Int): Long = (sizes(k) + sensors - 1) / sensors
    private def minuteBase(k: Int): Long = {
      while (bases.size <= k) bases += bases.last + slots(bases.size - 1)
      bases(k)
    }
    private def within(k: Int): Int =
      math.round(sizes(k) * (if (k == 0) dupFrac else dupFrac / 2)).toInt
    private def cross(k: Int): Int =
      if (k == 0) 0 else math.round(sizes(k) * dupFrac / 2).toInt
    private def fresh(k: Int): Int = sizes(k) - within(k) - cross(k)
    private def freshKey(k: Int, f: Int): (Long, Int) =
      (minuteBase(k) + f / sensors, f % sensors)

    def rows(k: Int): Array[SensorRow] = {
      val r = rng(seed, stream, k)
      val n = sizes(k)
      // kinds: 0 fresh, 1 within-file repeat, 2 cross-file repeat; the
      // first row is always fresh so a within-file repeat has a target
      val kinds = Array.fill(fresh(k) - 1)(0) ++ Array.fill(within(k))(1) ++
        Array.fill(cross(k))(2)
      var i = kinds.length - 1
      while (i > 0) {
        val j = r.nextInt(i + 1)
        val t = kinds(i); kinds(i) = kinds(j); kinds(j) = t
        i -= 1
      }
      val out = new Array[SensorRow](n)
      var nextFresh = 0
      var pos = 0
      while (pos < n) {
        val kind = if (pos == 0) 0 else kinds(pos - 1)
        val (minute, sensor) = kind match {
          case 0 => nextFresh += 1; freshKey(k, nextFresh - 1)
          case 1 => val o = out(r.nextInt(pos)); (o.minute, o.sensor)
          case _ =>
            val j = r.nextInt(k)
            freshKey(j, r.nextInt(fresh(j)))
        }
        def maybeEmpty(tok: => String): String =
          if (emptyFrac > 0 && r.nextDouble() < emptyFrac) "" else tok
        val values = Array(
          dec(400000L + sensor * 123L, 4),
          dec(-(730000L + sensor * 101L), 4),
          dec(r.nextInt(15000).toLong, 2),
          maybeEmpty(dec(r.nextInt(30000).toLong, 2)),
          maybeEmpty(dec(r.nextInt(4500).toLong, 2)))
        out(pos) = SensorRow(minute, sensor, r.nextInt(4), values)
        pos += 1
      }
      out
    }

    def csv(rows: Array[SensorRow]): String = {
      val sb = new StringBuilder(rows.length * 64)
      sb.append(Header).append('\n')
      rows.foreach { row =>
        val ts = LocalDateTime.ofEpochSecond(row.epochSec, 0, ZoneOffset.UTC)
        sb.append(DateFormats(row.fmt).format(ts)).append(',')
          .append(sensorId(row.sensor))
        row.values.foreach(v => sb.append(',').append(v))
        sb.append('\n')
      }
      sb.toString
    }
  }

  /** The sink table a sequence of `Dedupe: last` upserts must leave:
    * within a file the last row of a key wins, across files the later
    * file wins. */
  final class SensorState {
    val rows = mutable.LinkedHashMap.empty[Long, SensorRow]
    def apply(file: Array[SensorRow]): Unit =
      file.foreach(r => rows(r.key) = r)
    def size: Int = rows.size

    /** Order-insensitive checksum over every row's canonical rendering. */
    def checksum: Long = rows.valuesIterator.map(r =>
      fnv64(canonical(r.epochSec, sensorId(r.sensor),
        r.values.toSeq.map(v => if (v.isEmpty) None
          else Some(v.toDouble))))).sum

    /** Rows the `H` resample must emit: one per (sensor, hour) that has
      * data (the resample emits no empty buckets). */
    def hourBuckets: Int =
      rows.valuesIterator.map(r => (r.sensor, r.epochSec / 3600)).toSet.size

    /** Rows the mode table must hold: pandas `mode()` over every column
      * but DateTime, nulls dropped — the longest list of values tied for
      * their column's top count. */
    def modeRows: Int = {
      val cols: Seq[SensorRow => String] = sensorIdCol +:
        ValueCols.indices.map(i => (r: SensorRow) => r.values(i))
      cols.map { f =>
        val counts = mutable.HashMap.empty[String, Int]
        rows.valuesIterator.map(f).filter(_.nonEmpty)
          .foreach(v => counts(v) = counts.getOrElse(v, 0) + 1)
        if (counts.isEmpty) 0
        else { val top = counts.values.max; counts.values.count(_ == top) }
      }.max
    }
    private val sensorIdCol: SensorRow => String = r => sensorId(r.sensor)
  }

  def canonical(epochSec: Long, sensor: String,
      values: Seq[Option[Double]]): String =
    (Seq(epochSec.toString, sensor) ++
      values.map(_.map(java.lang.Double.toString).getOrElse("null")))
      .mkString("|")

  // ---------------------------------------------------------------- corpus

  /** A fixed vocabulary of distinct five-letter words; none is a stopword
    * or a language marker of the curation rule. */
  lazy val Vocab: Array[String] = {
    val r = new SplittableRandom(0x5EEDL)
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 30000) {
      val w = new String(Array.fill(5)(('a' + r.nextInt(26)).toChar))
      seen += w
    }
    seen.toArray
  }

  private def words(r: SplittableRandom, n: Int): Array[String] = {
    val picked = mutable.LinkedHashSet.empty[String]
    while (picked.size < n) picked += Vocab(r.nextInt(Vocab.length))
    picked.toArray
  }

  /** A document curation keeps: 40–60 distinct words with "the" planted
    * (language gate) — quality ≈ 0.75 against the 0.58 default. */
  def freshText(r: SplittableRandom): String = {
    val w = words(r, 39 + r.nextInt(21))
    (w.take(5) ++ Array("the") ++ w.drop(5)).mkString(" ")
  }

  /** One word (never the planted "the") swapped for a word the text does
    * not hold: a near-duplicate well above the 0.5 threshold. */
  def mutate(text: String, r: SplittableRandom): String = {
    val toks = text.split(" ")
    var i = r.nextInt(toks.length)
    while (toks(i) == "the") i = r.nextInt(toks.length)
    var w = Vocab(r.nextInt(Vocab.length))
    while (toks.contains(w)) w = Vocab(r.nextInt(Vocab.length))
    toks(i) = w
    toks.mkString(" ")
  }

  /** Kinds planted in a delta. */
  object Kind {
    val Fresh = "fresh"
    val ExactLanded = "exact_landed"
    val NearLanded = "near_landed"
    val ExactDelta = "exact_delta"
    val NearDelta = "near_delta"
    val Short = "too_short"
    val NoLang = "no_lang"
  }

  final case class Doc(id: Long, text: String, kind: String, src: Long)

  /** The bootstrap corpus and its delta stream. Bootstrap docs have ids
    * 1..`base`; delta k (k ≥ 1) has ids `base + (k-1)·deltaSize + 1` up,
    * so every delta's ids follow every landed id. */
  final class CorpusDocs(seed: Long, val base: Int, val deltaSize: Int) {

    def baseText(id: Long): String = freshText(rng(seed, 20, id))

    def bootstrap: Seq[Doc] =
      (1L to base.toLong).map(i => Doc(i, baseText(i), Kind.Fresh, 0L))

    private def frac(f: Double): Int = math.round(deltaSize * f).toInt

    def delta(k: Int): Seq[Doc] = {
      val r = rng(seed, 21, k)
      val nExactL = frac(0.10); val nNearL = frac(0.10)
      val nExactD = frac(0.05); val nNearD = frac(0.05)
      val nShort = frac(0.05); val nNoLang = frac(0.05)
      val nFresh = deltaSize - nExactL - nNearL - nExactD - nNearD -
        nShort - nNoLang
      var next = base.toLong + (k - 1).toLong * deltaSize
      def id(): Long = { next += 1; next }
      val fresh = Seq.fill(nFresh)(Doc(id(), freshText(r), Kind.Fresh, 0L))
      // landed sources without replacement: two copies of one landed doc
      // in one delta would collapse at curation instead
      val landed = mutable.LinkedHashSet.empty[Long]
      while (landed.size < nExactL + nNearL)
        landed += 1L + r.nextInt(base)
      val (exactSrc, nearSrc) = landed.toSeq.splitAt(nExactL)
      val exactL = exactSrc.map(s =>
        Doc(id(), baseText(s), Kind.ExactLanded, s))
      val nearL = nearSrc.map(s =>
        Doc(id(), mutate(baseText(s), r), Kind.NearLanded, s))
      val short = Seq.fill(nShort) {
        Doc(id(), (words(r, 8) :+ "the").mkString(" "), Kind.Short, 0L)
      }
      val noLang = Seq.fill(nNoLang) {
        Doc(id(), words(r, 45).mkString(" "), Kind.NoLang, 0L)
      }
      // within-delta copies carry higher ids than their sources, so the
      // keep-first rule drops the copy
      val srcs = r.ints(0, nFresh).distinct().limit(nExactD + nNearD)
        .toArray.toSeq.map(fresh(_))
      val (exactDs, nearDs) = srcs.splitAt(nExactD)
      val exactD = exactDs.map(s => Doc(id(), s.text, Kind.ExactDelta, s.id))
      val nearD = nearDs.map(s =>
        Doc(id(), mutate(s.text, r), Kind.NearDelta, s.id))
      fresh ++ exactL ++ nearL ++ short ++ noLang ++ exactD ++ nearD
    }
  }

  /** What a delta must do to the funnel. */
  final case class DeltaExpect(nDelta: Long, nCurated: Long,
      exactLandedFloor: Long, neverLand: Set[Long],
      landedCopies: Map[Long, Long])

  def expect(docs: Seq[Doc]): DeltaExpect = {
    def n(kinds: String*) = docs.count(d => kinds.contains(d.kind)).toLong
    DeltaExpect(
      nDelta = docs.size.toLong,
      nCurated = docs.size - n(Kind.Short, Kind.NoLang, Kind.ExactDelta),
      exactLandedFloor = n(Kind.ExactLanded),
      neverLand = docs.filter(d => Set(Kind.Short, Kind.NoLang,
        Kind.ExactDelta)(d.kind)).map(_.id).toSet,
      landedCopies = docs.filter(_.kind == Kind.ExactLanded)
        .map(d => d.id -> d.src).toMap)
  }
}
