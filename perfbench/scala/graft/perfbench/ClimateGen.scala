package graft.perfbench

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.file.{Files, Path}

import scala.collection.mutable

import graft.nlp.Parsers
import graft.nlp.Similarity.ratio

/** Seeded generator for the four climate sources and for the questions
  * asked over them, in the reference's raw layouts:
  *
  *  - NOAA billion-dollar disasters: CSV, one wide row per year
  *    1980-2024, a `{Type} Count`/`{Type} Cost` pair per disaster type;
  *  - FEMA/HUD assistance: CSV, 1,235 incident rows, 2000-2023;
  *  - EDGAR: one XLSX workbook per gas with `Y_1970`..`Y_2022` year
  *    headers — 223 / 223 / 219 / 1,535 rows for CO2 / CH4 / N2O / F-gas;
  *  - ERA5 monthly means: a NetCDF-3 grid over the South-Asia box
  *    (5-37 N, 60-98 E, 2 degrees, 2020-2021, four packed variables).
  *
  * Every expected answer is computed here from the generated values,
  * following the engine's documented semantics, never by the engine.
  * Values are dyadic (multiples of a power of two) so every sum is exact
  * in any order, and the expected text is exact. */
final class ClimateGen(seed: Long) {
  import ClimateGen._

  private val rng = new scala.util.Random(seed * 1000003L + 17)

  // ---- NOAA -----------------------------------------------------------

  val noaaYears: Seq[Int] = 1980 to 2024
  /** (count, cost in billions) per year and type, in `NoaaTypes` order. */
  val noaa: Map[Int, IndexedSeq[(Int, Double)]] = noaaYears.map { y =>
    y -> NoaaTypes.indices.map { _ =>
      val c = rng.nextInt(9)
      (c, if (c == 0) 0.0 else (1 + rng.nextInt(400)) / 8.0)
    }
  }.toMap

  def writeNoaa(p: Path): Unit = {
    val sb = new StringBuilder
    sb ++= "# Billion-dollar weather and climate disasters, counts and costs (billions)\n"
    sb ++= ("Year" +: NoaaTypes.flatMap(t => Seq(s"$t Count", s"$t Cost")) :+
      "All Disasters Count" :+ "All Disasters Cost").mkString(",") + "\n"
    noaaYears.foreach { y =>
      val v = noaa(y)
      sb ++= (y.toString +: v.flatMap { case (c, d) => Seq(c.toString, d.toString) } :+
        v.map(_._1).sum.toString :+ v.map(_._2).sum.toString).mkString(",") + "\n"
    }
    Files.writeString(p, sb.toString)
  }

  // ---- FEMA -----------------------------------------------------------

  final case class Fema(year: Int, event: String, number: Int, start: String, end: String,
                        state: String, itype: String, valid: Double, eligible: Double,
                        ihp: Double, pa: Double, cdbg: Double, projects: Double)

  val fema: IndexedSeq[Fema] = (0 until 1235).map { i =>
    val (stateName, abbr) = States(rng.nextInt(States.size))
    val itype = FemaTypes(rng.nextInt(FemaTypes.size))._1
    val year = 2000 + rng.nextInt(24)
    val month = 1 + rng.nextInt(12)
    val day = 1 + rng.nextInt(20)
    val number = 1000 + i * 3 + rng.nextInt(3)
    val valid = rng.nextInt(50000).toDouble
    Fema(year, s"$stateName ${itype} $number", number, s"$month/$day/$year",
      s"$month/${day + 1 + rng.nextInt(8)}/$year", abbr, itype, valid,
      math.floor(valid * rng.nextDouble()), rng.nextInt(400000000).toDouble,
      rng.nextInt(900000000).toDouble,
      if (rng.nextInt(3) == 0) rng.nextInt(500000000).toDouble else 0.0,
      rng.nextInt(5000).toDouble)
  }

  def writeFema(p: Path): Unit = {
    val sb = new StringBuilder
    sb ++= "year,event,incident_number,incident_start,incident_end,state,incident_type," +
      "valid_ihp_applications,eligible_ihp_applications,ihp_total,pa_total," +
      "cdbg_dr_allocation,pa_projects_count\n"
    fema.foreach { r =>
      sb ++= Seq(r.year, r.event, r.number, r.start, r.end, r.state, r.itype, r.valid,
        r.eligible, r.ihp, r.pa, r.cdbg, r.projects).mkString(",") + "\n"
    }
    Files.writeString(p, sb.toString)
  }

  // ---- EDGAR ----------------------------------------------------------

  val edgarYears: Seq[Int] = 1970 to 2022
  final case class EdgarRow(annex: String, code: String, name: String, substance: String,
                            values: IndexedSeq[Double])

  /** gas → wide rows; N2O and F-gas skip the last four countries. */
  val edgar: Map[String, IndexedSeq[EdgarRow]] = Gases.map { case (gas, _) =>
    val countries = if (gas == "CO2" || gas == "CH4") Countries else Countries.dropRight(4)
    val substances: Int => Seq[String] =
      if (gas == "F-gas") i => FGases.take(if (i < 2) 8 else 7) else _ => Seq(gas)
    gas -> countries.zipWithIndex.flatMap { case ((name, code, annex), i) =>
      substances(i).map { sub =>
        val scale = 1 << rng.nextInt(14)
        EdgarRow(annex, code, name, sub,
          edgarYears.map(_ => (2 * rng.nextInt(scale * 64) + 1) / 64.0).toIndexedSeq)
      }
    }.toIndexedSeq
  }.toMap

  def writeEdgar(dir: Path): Unit = Gases.foreach { case (gas, _) =>
    val header = Seq("IPCC_annex", "Country_code_A3", "Name", "Substance") ++
      edgarYears.map(y => s"Y_$y")
    val rows = edgar(gas).map(r => (Seq(r.annex, r.code, r.name, r.substance).map(Left(_)) ++
      r.values.map(Right(_))))
    XlsxWriter.write(dir.resolve(s"edgar_$gas.xlsx"), header, rows)
  }

  /** (gas, year) → sum over every row, for the landed-table check. */
  def edgarSums: Map[(String, Int), Double] =
    (for ((gas, rows) <- edgar.toSeq; (y, i) <- edgarYears.zipWithIndex)
      yield (gas, y) -> rows.map(_.values(i)).sum).toMap

  // ---- ERA5 -----------------------------------------------------------

  val lats: IndexedSeq[Double] = (37 to 5 by -2).map(_.toDouble)
  val lons: IndexedSeq[Double] = (60 to 98 by 2).map(_.toDouble)
  val months: IndexedSeq[(Int, Int)] = for (y <- 2020 to 2021; m <- 1 to 12) yield (y, m)
  /** variable → raw packed shorts, [month][lat][lon]. */
  val era5Raw: Map[String, Array[Short]] = Era5Vars.map { v =>
    v.name -> Array.fill(months.size * lats.size * lons.size)(
      (v.rawLo + rng.nextInt(v.rawHi - v.rawLo + 1)).toShort)
  }.toMap

  /** Nearest city of every grid point, brute force over the gazetteer
    * (haversine; ties to the smaller city name). */
  lazy val nearest: IndexedSeq[Int] =
    for (la <- lats; lo <- lons) yield Cities.indices.minBy(c =>
      (haversineKm(la, lo, Cities(c).lat, Cities(c).lon), Cities(c).name))

  /** (city, "yyyy-MM-01", metric) → city-month mean over the city's grid
    * points — the landed ERA5 value. */
  lazy val era5Means: Map[(String, String, String), Double] = {
    val cells = lats.size * lons.size
    val byCity = nearest.zipWithIndex.groupBy(_._1).map { case (c, ps) => c -> ps.map(_._2) }
    (for {
      v <- Era5Vars; (c, points) <- byCity; (ym, t) <- months.zipWithIndex
    } yield {
      val raw = era5Raw(v.name)
      val sum = points.map(p => raw(t * cells + p) * v.scale + v.offset).sum
      (Cities(c).name, f"${ym._1}%04d-${ym._2}%02d-01", v.metric) -> sum / points.size
    }).toMap
  }

  def citiesWithData: IndexedSeq[String] = nearest.distinct.map(Cities(_).name).sorted

  def writeEra5(p: Path): Unit = {
    val time = months.map { case (y, m) =>
      java.time.LocalDate.of(y, m, 1).toEpochDay.toDouble }
    NetCdfWriter.write(p,
      Seq("time" -> months.size, "latitude" -> lats.size, "longitude" -> lons.size),
      Seq(NetCdfWriter.Var("time", Seq(0), time.toArray),
        NetCdfWriter.Var("latitude", Seq(1), lats.toArray),
        NetCdfWriter.Var("longitude", Seq(2), lons.toArray)) ++
        Era5Vars.map(v => NetCdfWriter.Packed(v.name, Seq(0, 1, 2), era5Raw(v.name), v.scale, v.offset)))
  }

  def writeRaw(dir: Path): Unit = {
    Files.createDirectories(dir)
    writeNoaa(dir.resolve("noaa.csv"))
    writeFema(dir.resolve("fema.csv"))
    writeEdgar(dir)
    writeEra5(dir.resolve("era5.nc"))
  }

  // ---- questions ------------------------------------------------------

  /** Pinned engine clock: "last month" is 2021-08, "last year" 2020. */
  val today: java.time.LocalDate = java.time.LocalDate.of(2021, 9, 15)

  /** A cycle of `SessionsPerCycle` sessions of eight questions, two per
    * domain, in a fixed domain order. Every session opens with the same
    * ERA5 template; the other templates rotate with the session index, so
    * every cycle and every seed asks the same mix. The seed picks the
    * entities, years and values. */
  def cycle(): IndexedSeq[IndexedSeq[Question]] =
    (0 until SessionsPerCycle).map { k =>
      IndexedSeq(question("era5", 0), question("edgar", k % 5), question("fema", k % 5),
        question("noaa", k % 4), question("era5", 1 + k % 4), question("edgar", (k + 2) % 5),
        question("fema", (k + 2) % 5), question("noaa", (k + 2) % 4))
    }

  private val qr = new scala.util.Random(seed * 7919L + 3)

  private def question(domain: String, template: Int): Question = {
    val r = qr
    var q: Option[Question] = None
    while (q.isEmpty) q = domain match {
      case "noaa" => noaaQuestion(template, r)
      case "fema" => femaQuestion(template, r)
      case "era5" => era5Question(template, r)
      case "edgar" => edgarQuestion(template, r)
    }
    q.get
  }

  private def echo(q: String, body: String) = s"Q: $q\n$body"

  private def pick[T](r: scala.util.Random, xs: Seq[T]): T = xs(r.nextInt(xs.size))

  private def noaaQuestion(template: Int, r: scala.util.Random): Option[Question] = {
    val (kw, t) = pick(r, NoaaKeywords)
    val ti = NoaaTypes.indexOf(t)
    def counts(keep: Int => Boolean, i: Int) = noaaYears.filter(keep).map(noaa(_)(i)._1).sum
    def costs(keep: Int => Boolean) = noaaYears.filter(keep).map(noaa(_)(ti)._2).sum
    template match {
      case 0 =>
        val y = pick(r, noaaYears)
        val text = s"How many $kw disasters occurred in $y?"
        Some(Question("noaa", "noaa_count_year", text, echo(text, counts(_ == y, ti).toString)))
      case 1 =>
        val a = 1980 + r.nextInt(40); val b = a + r.nextInt(6)
        val text = s"What was the total cost of $kw disasters between $a and $b?"
        Some(Question("noaa", "noaa_cost_range", text,
          echo(text, billions(costs(y => y >= a && y <= b)))))
      case 2 =>
        val (kw2, t2) = pick(r, NoaaKeywords)
        if (t2 == t) None
        else {
          val y = 1980 + r.nextInt(40)
          val text = s"Compare $kw and $kw2 counts after $y"
          val body = Seq(t, t2).sorted.map(tt =>
            s"$tt: ${counts(_ > y, NoaaTypes.indexOf(tt))}").mkString("\n")
          Some(Question("noaa", "noaa_multi_after", text, echo(text, body)))
        }
      case _ =>
        val y = 1980 + r.nextInt(44)
        val text = s"What was the economic impact of $kw disasters since $y?"
        Some(Question("noaa", "noaa_cost_since", text, echo(text, billions(costs(_ >= y)))))
    }
  }

  private def femaQuestion(template: Int, r: scala.util.Random): Option[Question] = {
    val (stateName, abbr) = pick(r, States)
    val (itype, plural) = pick(r, FemaTypes)
    val (alias, metric) = pick(r, FemaMetrics)
    def rowsWhere(yearOk: Int => Boolean) =
      fema.filter(f => f.state == abbr && f.itype == itype && yearOk(f.year))
    def metricBody(rows: Seq[Fema]): String = {
      val v = rows.map(FemaMetricOf(metric)).sum
      if (metric.endsWith("_total") || metric == "cdbg_dr_allocation") dollars(v) else v.toString
    }
    template match {
      case 0 =>
        val y = 2000 + r.nextInt(24)
        val text = s"What was the $alias for $stateName $plural in $y?"
        Some(Question("fema", "fema_metric_year", text, echo(text, metricBody(rowsWhere(_ == y)))))
      case 1 =>
        val a = 2000 + r.nextInt(20); val b = a + 1 + r.nextInt(6)
        val text = s"Show $plural in $stateName between $a and $b"
        val rows = rowsWhere(y => y >= a && y <= b).sortBy(f => (f.year, f.event)).take(25)
        val body = rows.map(f =>
          s"year=${f.year}, event=${f.event}, state=${f.state}, incident_type=${f.itype}")
          .mkString("\n")
        if (!femaTokensClear(text)) None
        else Some(Question("fema", "fema_list_range", text, echo(text, body)))
      case 2 =>
        val (phrase, y) = pick(r, Seq(("last year", today.getYear - 1),
          ("two years ago", today.getYear - 2),
          // the most recently completed summer (June-August)
          ("last summer", if (today.getMonthValue > 8) today.getYear else today.getYear - 1)))
        val text = s"What was the $alias for $plural in $stateName $phrase?"
        Some(Question("fema", "fema_metric_relative", text, echo(text, metricBody(rowsWhere(_ == y)))))
      case 3 =>
        val y = 2000 + r.nextInt(23)
        val (word, keep) = if (r.nextBoolean()) ("after", (x: Int) => x > y) else ("since", (x: Int) => x >= y)
        val text = s"What was the $alias for $stateName $plural $word $y?"
        Some(Question("fema", s"fema_metric_$word", text, echo(text, metricBody(rowsWhere(keep)))))
      case _ =>
        if (!(metric.endsWith("_total") || metric == "cdbg_dr_allocation")) None
        else {
          val y = 2000 + r.nextInt(20)
          val amount = (1 + r.nextInt(20)) * 10000000
          val text = f"What was the $alias for $stateName $plural over $$$amount%,d since $y?"
          val rows = rowsWhere(_ >= y).filter(f => FemaMetricOf(metric)(f) > amount)
          Some(Question("fema", "fema_metric_over", text, echo(text, metricBody(rows))))
        }
    }
  }

  private lazy val era5Cities = citiesWithData

  private def era5Question(template: Int, r: scala.util.Random): Option[Question] = {
    val v = pick(r, Era5Vars)
    val alias = pick(r, v.aliases)
    val city = pick(r, era5Cities)
    def lines(cities: Seq[String], yms: Seq[(Int, Int)]): String =
      (for (c <- cities.sorted; (y, m) <- yms) yield {
        val mean = era5Means((c, f"$y%04d-$m%02d-01", v.metric))
        val rounded = BigDecimal(mean).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        f"$c $y%04d-$m%02d ${v.metric}: $rounded ${v.unit}"
      }).mkString("\n")
    val (y, m) = (2020 + r.nextInt(2), 1 + r.nextInt(12))
    val month = MonthNames(m - 1).capitalize
    template match {
      case 0 =>
        val text = s"What was the $alias in $city in $month $y?"
        Some(Question("era5", "era5_city_month", text, echo(text, lines(Seq(city), Seq((y, m))))))
      case 1 =>
        val city2 = pick(r, era5Cities)
        if (city2 == city) None
        else {
          val text = s"Compare the $alias in $city and $city2 in $month $y"
          Some(Question("era5", "era5_two_cities", text,
            echo(text, lines(Seq(city, city2), Seq((y, m))))))
        }
      case 2 =>
        // no year and no month: the engine's defaults, 2020 and all months
        val text = s"What was the $alias in $city?"
        Some(Question("era5", "era5_defaults", text,
          echo(text, lines(Seq(city), (1 to 12).map(mm => (2020, mm))))))
      case 3 =>
        val (phrase, back) = pick(r, Seq(("last month", 1), ("two months ago", 2)))
        val d = today.minusMonths(back.toLong)
        val text = s"What was the $alias in $city $phrase?"
        Some(Question("era5", "era5_relative", text,
          echo(text, lines(Seq(city), Seq((d.getYear, d.getMonthValue))))))
      case _ =>
        misspell(city, era5Cities, 0.8, r).flatMap { typo =>
          val text = s"What was the $alias in $typo in $month $y?"
          if (!candidatesClear(text, Set(typo), era5Cities, 0.8)) None
          else Some(Question("era5", "era5_misspelt_city", text,
            echo(text, lines(Seq(city), Seq((y, m))))))
        }
    }
  }

  private lazy val names: IndexedSeq[String] = Countries.map(_._1).sorted

  private def edgarQuestion(template: Int, r: scala.util.Random): Option[Question] = {
    val (gas, aliases) = pick(r, Gases)
    val alias = pick(r, aliases)
    val rows = edgar(gas)
    val present = rows.map(_.name).distinct
    val (country, code, _) = pick(r, Countries.filter(c => present.contains(c._1)))
    def lines(ns: Seq[String], years: Seq[Int]): String =
      (for (n <- ns.sorted; y <- years) yield {
        val i = edgarYears.indexOf(y)
        s"$n $y: ${rows.filter(_.name == n).map(_.values(i)).sum} kt"
      }).mkString("\n")
    val (text, body, kind, typo) = template match {
      case 0 =>
        val y = pick(r, edgarYears)
        val t = s"What were the $alias emissions in $country in $y?"
        (t, lines(Seq(country), Seq(y)), "edgar_country_year", None)
      case 1 =>
        val other = pick(r, present)
        val a = 1970 + r.nextInt(48); val b = a + 1 + r.nextInt(4)
        val t = s"Compare $alias emissions of $country and $other between $a and $b"
        (t, lines(Seq(country, other).distinct, a to b), "edgar_two_countries", None)
      case 2 =>
        val y = 2018 + r.nextInt(4)
        val t = s"What were the $alias emissions of $code since $y?"
        (t, lines(Seq(country), y to 2022), "edgar_iso_since", None)
      case 3 =>
        val y = 2017 + r.nextInt(5)
        val t = s"What were the $alias emissions in $country after $y?"
        (t, lines(Seq(country), (y + 1) to 2022), "edgar_after", None)
      case _ =>
        val y = pick(r, edgarYears)
        misspell(country, names, 0.85, r) match {
          case Some(tw) =>
            val t = s"What were the $alias emissions in $tw in $y?"
            (t, lines(Seq(country), Seq(y)), "edgar_misspelt_country", Some(tw))
          case None => ("", "", "", None)
        }
    }
    if (text.isEmpty) None
    else {
      // every other word of the question must stay clear of the names
      val exact = names.filter(n => text.contains(n)).toSet
      if (!candidatesClear(text, exact ++ typo, names, 0.85)) None
      else Some(Question("edgar", kind, text, echo(text, body)))
    }
  }

  /** A one-letter misspelling of `name` that resolves to it alone: its
    * similarity to `name` clears the cutoff by a margin and no other
    * dimension value comes near it. */
  private def misspell(name: String, dim: Seq[String], cutoff: Double,
                       r: scala.util.Random): Option[String] = {
    if (name.length < 6) return None
    val i = 1 + r.nextInt(name.length - 2)
    val c = "aeiouy".filterNot(_ == name(i).toLower)(r.nextInt(5))
    val typo = name.updated(i, c)
    val ok = !dim.exists(_.equalsIgnoreCase(typo)) &&
      ratio(typo.toLowerCase, name.toLowerCase) >= cutoff + 0.03 &&
      dim.filter(_ != name).forall(d => ratio(typo.toLowerCase, d.toLowerCase) < cutoff - 0.05)
    if (ok) Some(typo) else None
  }

  /** Every candidate n-gram the engine makes of `text`
    * (`Parsers.entityCandidates`) other than `allowed` (and the n-grams
    * that contain an allowed one) stays well below `cutoff` against every
    * dimension value, so no stray word resolves. */
  private def candidatesClear(text: String, allowed: Set[String], dim: Seq[String],
                              cutoff: Double): Boolean =
    Parsers.entityCandidates(text)
      .filterNot(g => allowed.exists(a => g == a || a.split(" ").contains(g)))
      .forall(g => dim.forall(d => ratio(g.toLowerCase, d.toLowerCase) < cutoff - 0.05))

  /** FEMA listing questions name no metric; no word may fuzzily read as
    * one either. */
  private def femaTokensClear(text: String): Boolean = {
    val tokens = "\\b[\\w-]+\\b".r.findAllIn(text.toLowerCase).toList
    val aliases = FemaMetrics.map(_._1) ++ FemaMetrics.map(_._2) ++
      Seq("ihp", "pa total", "cdbg-dr", "applications", "eligible applications")
    tokens.forall(t => aliases.forall(a => ratio(t, a) < 0.75))
  }
}

final case class Question(domain: String, kind: String, text: String, expected: String)

object ClimateGen {
  val SessionsPerCycle = 5

  val NoaaTypes: Seq[String] = Seq("Drought", "Flooding", "Freeze", "Severe Storm",
    "Tropical Cyclone", "Wildfire", "Winter Storm")
  val NoaaKeywords: Seq[(String, String)] = Seq("drought" -> "Drought",
    "flooding" -> "Flooding", "freeze" -> "Freeze", "severe storm" -> "Severe Storm",
    "tropical cyclone" -> "Tropical Cyclone", "wildfire" -> "Wildfire",
    "winter storm" -> "Winter Storm")

  val States: Seq[(String, String)] = Seq("Texas" -> "TX", "California" -> "CA",
    "Florida" -> "FL", "Louisiana" -> "LA", "North Carolina" -> "NC", "New York" -> "NY",
    "Oklahoma" -> "OK", "Kansas" -> "KS", "Missouri" -> "MO", "Alabama" -> "AL",
    "Georgia" -> "GA", "Iowa" -> "IA", "Colorado" -> "CO", "Oregon" -> "OR", "Arizona" -> "AZ")
  val FemaTypes: Seq[(String, String)] = Seq("Hurricane" -> "hurricanes",
    "Severe Storm" -> "severe storms", "Fire" -> "fires", "Earthquake" -> "earthquakes",
    "Flood" -> "floods", "Tornado" -> "tornadoes", "Snowstorm" -> "snowstorms",
    "Typhoon" -> "typhoons")
  /** question alias → metric column. */
  val FemaMetrics: Seq[(String, String)] = Seq("ihp total" -> "ihp_total",
    "public assistance" -> "pa_total", "cdbg" -> "cdbg_dr_allocation",
    "valid applications" -> "valid_ihp_applications", "pa projects" -> "pa_projects_count")
  val FemaMetricOf: Map[String, ClimateGen#Fema => Double] = Map(
    "ihp_total" -> (_.ihp), "pa_total" -> (_.pa), "cdbg_dr_allocation" -> (_.cdbg),
    "valid_ihp_applications" -> (_.valid), "pa_projects_count" -> (_.projects))

  val Gases: Seq[(String, Seq[String])] = Seq("CO2" -> Seq("CO2", "carbon dioxide"),
    "CH4" -> Seq("methane"), "N2O" -> Seq("nitrous oxide"), "F-gas" -> Seq("fluorinated"))
  val FGases: Seq[String] = Seq("HFC-23", "HFC-32", "HFC-125", "HFC-134a", "SF6", "CF4",
    "NF3", "C2F6")

  /** 223 synthetic countries (fixed across seeds): name, ISO-3 code, annex. */
  val Countries: IndexedSeq[(String, String, String)] = {
    val r = new scala.util.Random(20240601L)
    val syl = Seq("ka", "lo", "ri", "ven", "dor", "mu", "sha", "tel", "bar", "zen", "fi",
      "ro", "gal", "nu", "pe", "stra", "mi", "ol", "tor", "vy", "ju", "qua", "bel", "sor")
    val end = Seq("ia", "land", "stan", "ora", "ica", "esh", "avia", "ont")
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < 223) {
      val n = (0 until 2 + r.nextInt(2)).map(_ => syl(r.nextInt(syl.size))).mkString +
        end(r.nextInt(end.size))
      seen += n.capitalize
    }
    val codes = mutable.Set.empty[String]
    seen.toIndexedSeq.zipWithIndex.map { case (n, i) =>
      var c = n.take(3).toUpperCase
      var k = 0
      while (codes.contains(c)) { c = n.take(2).toUpperCase + ('A' + k).toChar; k += 1 }
      codes += c
      (n, c, if (i % 4 == 0) "Annex_I" else "Non-Annex_I")
    }
  }

  final case class City(name: String, country: String, lat: Double, lon: Double)
  val Cities: IndexedSeq[City] = IndexedSeq(
    City("Mumbai", "india", 19.076, 72.877), City("Delhi", "india", 28.614, 77.209),
    City("Kolkata", "india", 22.573, 88.364), City("Chennai", "india", 13.083, 80.271),
    City("Bengaluru", "india", 12.972, 77.595), City("Hyderabad", "india", 17.385, 78.487),
    City("Ahmedabad", "india", 23.023, 72.571), City("Pune", "india", 18.520, 73.857),
    City("Jaipur", "india", 26.912, 75.787), City("Lucknow", "india", 26.847, 80.947),
    City("Nagpur", "india", 21.146, 79.088), City("Patna", "india", 25.594, 85.138),
    City("Bhopal", "india", 23.260, 77.413), City("Srinagar", "india", 34.084, 74.797),
    City("Guwahati", "india", 26.144, 91.736), City("Kochi", "india", 9.931, 76.267),
    City("Karachi", "pakistan", 24.861, 67.010), City("Lahore", "pakistan", 31.520, 74.359),
    City("Islamabad", "pakistan", 33.684, 73.048), City("Quetta", "pakistan", 30.180, 66.975),
    City("Peshawar", "pakistan", 34.015, 71.580), City("Multan", "pakistan", 30.157, 71.524),
    City("Dhaka", "bangladesh", 23.810, 90.412), City("Chittagong", "bangladesh", 22.357, 91.783),
    City("Khulna", "bangladesh", 22.846, 89.540), City("Colombo", "srilanka", 6.927, 79.861),
    City("Jaffna", "srilanka", 9.661, 80.026), City("Kandy", "srilanka", 7.291, 80.636),
    City("Kathmandu", "nepal", 27.717, 85.324), City("Pokhara", "nepal", 28.210, 83.986),
    City("Thimphu", "bhutan", 27.472, 89.639), City("Kabul", "afghanistan", 34.555, 69.207),
    City("Kandahar", "afghanistan", 31.628, 65.737))

  /** A packed ERA5 variable: value = raw * scale + offset (all dyadic). */
  final case class Era5Var(name: String, metric: String, unit: String, aliases: Seq[String],
                           scale: Double, offset: Double, rawLo: Int, rawHi: Int)
  val Era5Vars: Seq[Era5Var] = Seq(
    Era5Var("skt", "skin_temperature", "K", Seq("temperature", "skin temperature"),
      1.0 / 16, 280.0, 0, 640),
    Era5Var("si10", "wind_speed", "m/s", Seq("wind speed"), 1.0 / 16, 0.0, 0, 160),
    Era5Var("tp", "total_precipitation", "m", Seq("rainfall", "precipitation"),
      1.0 / 4096, 0.0, 0, 80),
    Era5Var("tco3", "total_ozone", "atm-cm", Seq("ozone"), 1.0 / 1024, 0.25, 0, 60))

  val MonthNames: Seq[String] = Seq("january", "february", "march", "april", "may", "june",
    "july", "august", "september", "october", "november", "december")

  def haversineKm(lat1: Double, lon1: Double, lat2: Double, lon2: Double): Double = {
    val dLat = math.toRadians(lat2 - lat1)
    val dLon = math.toRadians(lon2 - lon1)
    val a = math.pow(math.sin(dLat / 2), 2) +
      math.cos(math.toRadians(lat1)) * math.cos(math.toRadians(lat2)) *
        math.pow(math.sin(dLon / 2), 2)
    6371.0 * 2.0 * math.asin(math.sqrt(a))
  }

  /** `$X.X billion`, rounded half-even on the exact binary value. */
  def billions(v: Double): String =
    "$" + new java.math.BigDecimal(v).setScale(1, java.math.RoundingMode.HALF_EVEN) + " billion"

  /** `$1,234,567.00`. */
  def dollars(v: Double): String =
    "$" + String.format(java.util.Locale.US, "%,.2f",
      new java.math.BigDecimal(v).setScale(2, java.math.RoundingMode.HALF_EVEN))
}

/** Minimal XLSX writer: inline strings, numeric cells, one sheet. */
object XlsxWriter {
  private def col(i: Int): String =
    if (i < 26) ('A' + i).toChar.toString else col(i / 26 - 1) + ('A' + i % 26).toChar

  private def esc(s: String) = s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  def write(p: Path, header: Seq[String], rows: Seq[Seq[Either[String, Double]]]): Unit = {
    val sheet = new StringBuilder
    sheet ++= """<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
      """<worksheet xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main"><sheetData>"""
    def row(r: Int, cells: Seq[Either[String, Double]]): Unit = {
      sheet ++= s"""<row r="$r">"""
      cells.zipWithIndex.foreach {
        case (Left(s), i) =>
          sheet ++= s"""<c r="${col(i)}$r" t="inlineStr"><is><t>${esc(s)}</t></is></c>"""
        case (Right(d), i) => sheet ++= s"""<c r="${col(i)}$r"><v>$d</v></c>"""
      }
      sheet ++= "</row>"
    }
    row(1, header.map(Left(_)))
    rows.zipWithIndex.foreach { case (r, i) => row(i + 2, r) }
    sheet ++= "</sheetData></worksheet>"
    val parts = Seq(
      "[Content_Types].xml" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types">""" +
        """<Default Extension="rels" ContentType="application/vnd.openxmlformats-package.relationships+xml"/>""" +
        """<Default Extension="xml" ContentType="application/xml"/>""" +
        """<Override PartName="/xl/workbook.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.sheet.main+xml"/>""" +
        """<Override PartName="/xl/worksheets/sheet1.xml" ContentType="application/vnd.openxmlformats-officedocument.spreadsheetml.worksheet+xml"/></Types>"""),
      "_rels/.rels" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/officeDocument" Target="xl/workbook.xml"/></Relationships>"""),
      "xl/workbook.xml" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<workbook xmlns="http://schemas.openxmlformats.org/spreadsheetml/2006/main" xmlns:r="http://schemas.openxmlformats.org/officeDocument/2006/relationships">""" +
        """<sheets><sheet name="data" sheetId="1" r:id="rId1"/></sheets></workbook>"""),
      "xl/_rels/workbook.xml.rels" -> ("""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>""" +
        """<Relationships xmlns="http://schemas.openxmlformats.org/package/2006/relationships">""" +
        """<Relationship Id="rId1" Type="http://schemas.openxmlformats.org/officeDocument/2006/relationships/worksheet" Target="worksheets/sheet1.xml"/></Relationships>"""),
      "xl/worksheets/sheet1.xml" -> sheet.toString)
    val zip = new java.util.zip.ZipOutputStream(Files.newOutputStream(p))
    try parts.foreach { case (name, body) =>
      zip.putNextEntry(new java.util.zip.ZipEntry(name))
      zip.write(body.getBytes("UTF-8"))
      zip.closeEntry()
    } finally zip.close()
  }
}

/** Minimal NetCDF-3 classic (CDF-1) writer: fixed dimensions, double
  * coordinate variables and packed short variables with CF
  * `scale_factor`/`add_offset`. */
object NetCdfWriter {
  sealed trait V { def name: String; def dims: Seq[Int] }
  final case class Var(name: String, dims: Seq[Int], data: Array[Double]) extends V
  final case class Packed(name: String, dims: Seq[Int], raw: Array[Short],
                          scale: Double, offset: Double) extends V

  def write(p: Path, dims: Seq[(String, Int)], vars: Seq[V]): Unit = {
    def pad(n: Int) = (4 - n % 4) % 4
    def header(begins: Seq[Int]): Array[Byte] = {
      val bo = new ByteArrayOutputStream
      val o = new DataOutputStream(bo)
      def name(s: String): Unit = {
        val b = s.getBytes("UTF-8")
        o.writeInt(b.length); o.write(b); o.write(new Array[Byte](pad(b.length)))
      }
      o.write("CDF".getBytes("US-ASCII")); o.writeByte(1)
      o.writeInt(0)
      o.writeInt(10); o.writeInt(dims.size)
      dims.foreach { case (n, len) => name(n); o.writeInt(len) }
      o.writeInt(0); o.writeInt(0) // no global attributes
      o.writeInt(11); o.writeInt(vars.size)
      vars.zip(begins).foreach { case (v, begin) =>
        name(v.name)
        o.writeInt(v.dims.size); v.dims.foreach(o.writeInt)
        v match {
          case pk: Packed =>
            o.writeInt(12); o.writeInt(2)
            name("scale_factor"); o.writeInt(6); o.writeInt(1); o.writeDouble(pk.scale)
            name("add_offset"); o.writeInt(6); o.writeInt(1); o.writeDouble(pk.offset)
            o.writeInt(3)
          case _: Var =>
            o.writeInt(0); o.writeInt(0)
            o.writeInt(6)
        }
        o.writeInt(size(v)); o.writeInt(begin)
      }
      o.flush()
      bo.toByteArray
    }
    def size(v: V): Int = v match {
      case x: Var => x.data.length * 8
      case x: Packed => x.raw.length * 2 + pad(x.raw.length * 2)
    }
    val hlen = header(vars.map(_ => 0)).length
    val begins = vars.scanLeft(hlen)((b, v) => b + size(v)).init
    val out = new DataOutputStream(new java.io.BufferedOutputStream(Files.newOutputStream(p)))
    try {
      out.write(header(begins))
      vars.foreach {
        case x: Var => x.data.foreach(out.writeDouble)
        case x: Packed =>
          x.raw.foreach(s => out.writeShort(s))
          out.write(new Array[Byte](pad(x.raw.length * 2)))
      }
    } finally out.close()
  }
}
