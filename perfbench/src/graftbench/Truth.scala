package graftbench

import java.time.{LocalDate, YearMonth, ZoneOffset}

/** Ground-truth rules the checks compare the engine's output with,
  * written here from the reference behaviour rather than called from the
  * engine, so a wrong answer cannot agree with itself. */
object Truth {

  /** Datetimes of one item, epoch milliseconds. */
  final case class Dates(start: Option[Long], end: Option[Long], single: Option[Long])

  // the reference's filename cascade: the first strategy with any hit wins
  private val strategies: Seq[(java.util.regex.Pattern, String => LocalDate)] = Seq(
    "(?:_|-)(\\d{4}-\\d{2}-\\d{2})" -> ((s: String) => LocalDate.parse(s)),
    "(?:_|-)(\\d{8})" -> ((s: String) => LocalDate.of(
      s.take(4).toInt, s.slice(4, 6).toInt, s.slice(6, 8).toInt)),
    "(?:_|-)(\\d{6})" -> ((s: String) =>
      YearMonth.of(s.take(4).toInt, s.slice(4, 6).toInt).atDay(1)),
    "(?:_|-)(\\d{4})" -> ((s: String) => LocalDate.of(s.toInt, 1, 1))
  ).map { case (re, f) => java.util.regex.Pattern.compile(re) -> f }

  private def ms(d: LocalDate): Long =
    d.atStartOfDay(ZoneOffset.UTC).toInstant.toEpochMilli

  /** Dates the filename cascade extracts from `url`, widened to a month
    * or year when `range` says so; None when the row is undateable. */
  def dates(url: String, range: Option[String]): Option[Dates] =
    strategies.iterator.map { case (p, parse) =>
      val m = p.matcher(url)
      val hits = Iterator.continually(m).takeWhile(_.find()).map(_.group(1)).toList
      (hits, parse)
    }.find(_._1.nonEmpty).flatMap { case (hits, parse) =>
      val parsed = hits.map(h => scala.util.Try(parse(h)).toOption)
      if (parsed.exists(_.isEmpty)) None
      else {
        val ds = parsed.flatten
        if (ds.size > 1) Some(Dates(Some(ms(ds.min)), Some(ms(ds.max)), None))
        else range match {
          case Some("month") => Some(Dates(Some(ms(ds.head.withDayOfMonth(1))),
            Some(ms(ds.head.withDayOfMonth(ds.head.lengthOfMonth))), None))
          case Some("year") => Some(Dates(Some(ms(ds.head.withDayOfYear(1))),
            Some(ms(ds.head.withMonth(12).withDayOfMonth(31))), None))
          case _ => Some(Dates(None, None, Some(ms(ds.head))))
        }
      }
    }

  /** `Path(url).stem`: the last path component minus its last extension. */
  def stem(url: String): String =
    url.split('/').last.replaceAll("(?<=.)\\.[^.]*$", "")

  def fileName(url: String): String = url.split('/').last

  /** Exactly `round(n * share)` of the indices `0 until n`, drawn from
    * the seed: every seed plants the same amount of each case. */
  def pick(rnd: scala.util.Random, n: Int, share: Double): Set[Int] =
    rnd.shuffle((0 until n).toVector).take(math.round(n * share).toInt).toSet

  /** A filename date token drawn from the seed, in one of the layouts the
    * cascade reads (`layout` modulo 4): a single day, a day range, a
    * dashed day or a month. Callers cycle the layout so every seed mixes
    * them in the same proportions. */
  def dateToken(rnd: scala.util.Random, layout: Int): String = {
    def day(): LocalDate = LocalDate.of(2000, 1, 1).plusDays(rnd.nextInt(9000))
    def compact(d: LocalDate) = f"${d.getYear}%04d${d.getMonthValue}%02d${d.getDayOfMonth}%02d"
    layout % 4 match {
      case 0 => "_" + compact(day())
      case 1 =>
        val a = day()
        "_" + compact(a) + "_" + compact(a.plusDays(1 + rnd.nextInt(40)))
      case 2 => "_" + day().toString
      case _ => val d = day(); f"_${d.getYear}%04d${d.getMonthValue}%02d"
    }
  }

  /** Whether one request's output matched; a mismatch is described on
    * stderr. */
  def same[T](what: String, got: T, want: T): Boolean = {
    val ok = got == want
    if (!ok) {
      val detail = (got, want) match {
        case (g: Map[Any, Any] @unchecked, w: Map[Any, Any] @unchecked) =>
          val keys = (g.keySet ++ w.keySet).filter(k => g.get(k) != w.get(k))
          s"${keys.size} of ${w.size} keys differ, e.g. " +
            keys.take(2).map(k => s"$k: got ${g.get(k)} want ${w.get(k)}").mkString("; ")
        case (g: Set[Any] @unchecked, w: Set[Any] @unchecked) =>
          s"only got ${(g -- w).take(3)}, only want ${(w -- g).take(3)}"
        case _ => s"got $got, want $want"
      }
      System.err.println(s"[graftbench] mismatch in $what: ${detail.take(600)}")
    }
    ok
  }
}
