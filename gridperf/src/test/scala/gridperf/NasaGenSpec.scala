package gridperf

import java.time.{LocalDate, LocalDateTime}
import java.time.format.DateTimeFormatter

import scala.util.Try

import org.scalatest.funsuite.AnyFunSuite

/** Recounts the generator's payloads with a plain-Scala reading of the
  * NASA POWER format and the engine's documented rules, independent of
  * the generator's own DayData.rows model. */
class NasaGenSpec extends AnyFunSuite {
  private val Entry = "\"([^\"]+)\":(\\[[^\\]]*\\]|[-0-9.]+|null)".r
  private val Section = "\"(ALLSKY_SFC_SW_DWN|T2M|WS10M)\":\\{([^}]*)\\}".r

  private def cents(s: String): Option[Int] =
    if (s == "null") None else Some(math.round(s.toDouble * 100).toInt)

  private def parseTs(key: String, pattern: String): Option[LocalDateTime] =
    Try(LocalDateTime.parse(key + (if (pattern == "yyyyMMdd") "00" else ""),
      DateTimeFormatter.ofPattern("yyyyMMddHH"))).toOption

  /** (site, epoch hour) → (param → value) per the engine's parse:
    * list entries keep null elements, scalar nulls drop the entry,
    * keys that do not parse are skipped. */
  private def recount(site: Int, body: String): Map[(Int, Long), Map[String, Option[Int]]] = {
    val cells = for {
      sec <- Section.findAllMatchIn(body).toSeq
      e <- Entry.findAllMatchIn(sec.group(2)).toSeq
      (key, v) = (e.group(1), e.group(2))
      cell <- if (v.startsWith("[")) {
        parseTs(key, "yyyyMMdd").toSeq.flatMap { day =>
          v.stripPrefix("[").stripSuffix("]").split(",").toSeq.zipWithIndex.map {
            case (x, h) => (day.plusHours(h.toLong), cents(x))
          }
        }
      } else if (v == "null") Nil
      else parseTs(key.take(10), "yyyyMMddHH").toSeq.map(ts => (ts, cents(v)))
    } yield (sec.group(1), cell)
    cells.groupBy { case (_, (ts, _)) =>
      (site, ts.toLocalDate.toEpochDay * 24 + ts.getHour)
    }.map { case (k, vs) => k -> vs.map { case (p, (_, v)) => p -> v }.toMap }
  }

  test("expected Bronze/Silver counts and checksums match a plain recount") {
    val gen = new NasaGen(7)
    val start = LocalDate.of(2024, 1, 1)
    val end = start.plusDays(13)
    val (bodies, days) = gen.windows(0 until 3, start, end, 1, clean = false)
    assert(bodies.size === 3 * 2, "3 sites x two 7-day windows")
    val expected = new Expected
    expected.add(days)

    val recounted = (0 until 3).flatMap { s =>
      Seq(start, start.plusDays(7)).flatMap { ws =>
        recount(s, bodies(NasaGen.url(s, ws, ws.plusDays(6))))
      }
    }.toMap
    def reading(m: Map[String, Option[Int]]) = Reading(
      m.get("ALLSKY_SFC_SW_DWN").flatten, m.get("T2M").flatten, m.get("WS10M").flatten)
    val rows = recounted.map { case (k, m) => k -> reading(m) }

    assert(rows.size.toLong === expected.bronzeRows)
    assert(rows === expected.bronze.toMap)
    val valid = rows.values.filter { r =>
      r.ghi.exists(_ >= 0) && r.t2m.exists(t => math.abs(t) <= 8000) && r.ws.exists(_ >= 0)
    }
    assert(valid.size.toLong === expected.silverRows)
    assert(valid.map(r => r.ghi.get + 3L * r.t2m.get + 7L * r.ws.get).sum ===
      expected.silverChecksum)
    // the planted anomalies are present, so the clean stage has work to do
    assert(expected.silverRows < expected.bronzeRows)
    assert(rows.values.exists(r => r.ghi.isEmpty || r.t2m.isEmpty || r.ws.isEmpty),
      "planted nulls reach Bronze")
    assert(bodies.values.exists(_.contains("XX")), "malformed keys present")
  }

  test("a clean day carries every hour, complete and in range") {
    val d = new NasaGen(3).day(1, LocalDate.of(2024, 2, 1), 5, clean = true)
    assert(d.rows.size === 24)
    assert(d.rows.forall(_._2.valid))
  }

  test("the same seed regenerates the same payloads; another seed does not") {
    val a = new NasaGen(11).windows(0 until 2, LocalDate.of(2024, 1, 1),
      LocalDate.of(2024, 1, 7), 1, clean = false)._1
    val b = new NasaGen(11).windows(0 until 2, LocalDate.of(2024, 1, 1),
      LocalDate.of(2024, 1, 7), 1, clean = false)._1
    val c = new NasaGen(12).windows(0 until 2, LocalDate.of(2024, 1, 1),
      LocalDate.of(2024, 1, 7), 1, clean = false)._1
    assert(a === b)
    assert(a !== c)
  }

  test("hundredths format as JSON numbers") {
    assert(NasaGen.fmt(1234) === "12.34")
    assert(NasaGen.fmt(-5) === "-0.05")
    assert(NasaGen.fmt(0) === "0.00")
    assert(NasaGen.fmt(-9500) === "-95.00")
  }
}
