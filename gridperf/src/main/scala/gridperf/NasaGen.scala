package gridperf

import java.time.LocalDate
import java.time.format.DateTimeFormatter

import scala.collection.mutable
import scala.util.Random

import graft.Pipeline.Site
import graft.operators.WeatherApi
import graft.sources.NasaIngest

/** One Bronze row as the engine must publish it: each measure in
  * hundredths, `None` where the column is null. */
final case class Reading(ghi: Option[Int], t2m: Option[Int], ws: Option[Int]) {

  /** The clean kernel's rule: all three present and in range. */
  def valid: Boolean =
    ghi.exists(_ >= 0) && t2m.exists(t => t >= -8000 && t <= 8000) &&
      ws.exists(_ >= 0)

  /** Value checksum term (nulls count 0), mirrored by [[Checks]]. */
  def checksum: Long =
    ghi.getOrElse(0).toLong + 3L * t2m.getOrElse(0) + 7L * ws.getOrElse(0)
}

/** One parameter's hourly series for one (site, day) in one of the two
  * NASA POWER encodings: list form (`"YYYYMMDD": [24 values]`, a null
  * element keeps its hour) or scalar form (`"YYYYMMDDHH": value`, a
  * null value drops the entry). `malformed` adds one key that the
  * engine must skip. */
final case class Series(list: Boolean, values: IndexedSeq[Option[Int]],
                        malformed: Boolean)

/** What one site sends for one day. */
final case class DayData(site: Int, day: LocalDate, series: IndexedSeq[Series]) {

  /** The Bronze rows this day yields: an hour exists iff at least one
    * parameter carries an entry for it. */
  def rows: Seq[(Int, Reading)] = (0 until 24).flatMap { h =>
    val entries = series.map { s =>
      if (s.list) Some(s.values(h)) else s.values(h).map(Some(_))
    }
    if (entries.forall(_.isEmpty)) None
    else Some(h -> Reading(entries(0).flatten, entries(1).flatten,
      entries(2).flatten))
  }
}

/** Seeded generator of NASA POWER hourly payloads, with planted nulls,
  * out-of-range values and malformed keys. Every (site, day, version)
  * draws from its own RNG, so any window can be regenerated alone. */
final class NasaGen(seed: Long) {
  import NasaGen._

  def day(site: Int, d: LocalDate, version: Int, clean: Boolean): DayData = {
    val rng = new Random(seed * 1000003L + site * 7919L +
      d.toEpochDay * 104729L + version * 15485863L)
    val series = NasaIngest.Params.indices.map { p =>
      val values = (0 until 24).map { h =>
        if (!clean && rng.nextDouble() < NullRate) None
        else if (!clean && rng.nextDouble() < OutOfRangeRate)
          Some(outOfRange(p, rng))
        else Some(value(p, h, rng))
      }
      Series(rng.nextBoolean(), values,
        malformed = !clean && rng.nextDouble() < MalformedRate)
    }
    DayData(site, d, series)
  }

  /** One payload per (site, ≤7-day window), keyed by the URL the engine
    * will request, plus the days it carries. */
  def windows(sites: Seq[Int], start: LocalDate, end: LocalDate,
              version: Int, clean: Boolean)
      : (Map[String, String], Seq[DayData]) = {
    val out = for {
      s <- sites
      (ws, we) <- WeatherApi.ingestWindows(start, end)
    } yield {
      val days = Iterator.iterate(ws)(_.plusDays(1)).takeWhile(!_.isAfter(we))
        .map(day(s, _, version, clean)).toSeq
      url(s, ws, we) -> (body(days), days)
    }
    (out.map { case (u, (b, _)) => u -> b }.toMap, out.flatMap(_._2._2))
  }
}

object NasaGen {
  val NullRate = 0.03
  val OutOfRangeRate = 0.02
  val MalformedRate = 0.25

  def site(i: Int): Site = Site(f"site_$i%03d", 30.0 + 0.5 * i, -100.0 - 0.5 * i)

  def url(s: Int, from: LocalDate, to: LocalDate): String = {
    val fmt = DateTimeFormatter.BASIC_ISO_DATE
    val st = site(s)
    NasaIngest.powerUrl(st.lat, st.lon, from.format(fmt), to.format(fmt))
  }

  private def value(p: Int, h: Int, rng: Random): Int = p match {
    case 0 => // irradiance: a daylight arch, zero at night
      val sun = math.sin(math.Pi * (h - 6) / 12.0)
      if (h < 6 || h >= 18) 0 else (sun * (50000 + rng.nextInt(45000))).round.toInt
    case 1 => // 2 m temperature around 15 °C
      1500 + (800 * math.sin(math.Pi * (h - 9) / 12.0)).round.toInt +
        rng.nextInt(401) - 200
    case _ => rng.nextInt(1500) // 10 m wind speed
  }

  private def outOfRange(p: Int, rng: Random): Int = p match {
    case 0 => -(100 + rng.nextInt(900))
    case 1 => (if (rng.nextBoolean()) 1 else -1) * (8001 + rng.nextInt(2000))
    case _ => -(1 + rng.nextInt(500))
  }

  /** Hundredths as a JSON number: 1234 → 12.34, -5 → -0.05. */
  def fmt(c: Int): String = {
    val a = math.abs(c)
    (if (c < 0) "-" else "") + (a / 100) + "." + f"${a % 100}%02d"
  }

  private def num(v: Option[Int]): String = v.fold("null")(fmt)

  /** The POWER response body for consecutive days of one site. */
  def body(days: Seq[DayData]): String = {
    val sb = new StringBuilder("""{"properties":{"parameter":{""")
    NasaIngest.Params.indices.foreach { p =>
      if (p > 0) sb += ','
      sb ++= "\"" + NasaIngest.Params(p) + "\":{"
      val entries = mutable.ArrayBuffer.empty[String]
      days.foreach { d =>
        val ymd = d.day.format(DateTimeFormatter.BASIC_ISO_DATE)
        val s = d.series(p)
        if (s.list) {
          entries += "\"" + ymd + "\":[" + s.values.map(num).mkString(",") + "]"
          if (s.malformed)
            entries += "\"" + ymd.take(4) + "XX" + ymd.drop(6) + "\":[" +
              Seq.fill(24)("1.00").mkString(",") + "]"
        } else {
          s.values.indices.foreach { h =>
            entries += f"\"$ymd%s$h%02d\":" + num(s.values(h))
          }
          if (s.malformed)
            entries += "\"" + ymd.take(4) + "XX" + ymd.drop(6) + "07\":1.00"
        }
      }
      sb ++= entries.mkString(",") += '}'
    }
    sb ++= "}}}"
    sb.toString
  }
}

/** The generator's model of the published stores: the live Bronze row
  * per (site, epoch hour). Silver is every valid Bronze row — the
  * clean kernel's (site, hour) groups hold one Bronze row each, because
  * `ingest_seq` derives from (site, ts). */
final class Expected {
  val bronze: mutable.HashMap[(Int, Long), Reading] = mutable.HashMap.empty

  def add(days: Seq[DayData]): Unit = days.foreach { d =>
    d.rows.foreach { case (h, r) => bronze((d.site, d.day.toEpochDay * 24 + h)) = r }
  }

  def bronzeRows: Long = bronze.size.toLong
  def silverRows: Long = bronze.valuesIterator.count(_.valid).toLong
  def bronzeChecksum: Long = bronze.valuesIterator.map(_.checksum).sum
  def silverChecksum: Long =
    bronze.valuesIterator.filter(_.valid).map(_.checksum).sum
  def silverGhi: Long =
    bronze.valuesIterator.filter(_.valid).map(_.ghi.get.toLong).sum

  /** (Bronze rows, Silver rows) per site. */
  def perSite: Map[Int, (Int, Int)] =
    bronze.toSeq.groupBy(_._1._1).map { case (s, rows) =>
      s -> (rows.size, rows.count(_._2.valid))
    }
}
