package graft.perfbench

import java.nio.file.Path

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.answer.EchoLlm
import graft.engine.{ClimateEngine, NullGeocoder}
import graft.ingest.{Clean, Geo, Unpivot}
import graft.model.Domain
import graft.nlp.Parsers
import graft.sources.{NetCdf, Sources, Xlsx}

/** `climate_qa`: the paper's own path. Set-up writes the raw sources
  * from the seed ([[ClimateGen]]) and lands long parquet tables through
  * the program's `sources` and `ingest` modules; then one client asks
  * templated questions in short sessions, each on a fresh
  * `ClimateEngine` with a pinned clock and the echo LLM. A round is one
  * cycle of sessions. */
object Climate {
  /** Rounds always measured; `op_p95_ms` is taken over their 80 answers. */
  val TailRounds = 2

  /** ETL stage times of one set-up, in seconds, and rows landed (the
    * stage times and row count are only meaningful when staged). */
  final case class Etl(read: Double, geocode: Double, unpivot: Double, land: Double, rows: Long)

  /** Raw files → landed long tables under `land`. When `staged`, every
    * stage is materialized before the next so each gets its own time
    * (the traced run); otherwise each table is one lazy pipeline. */
  def etl(spark: SparkSession, raw: Path, land: Path, staged: Boolean): Etl = {
    val cached = mutable.ArrayBuffer.empty[DataFrame]
    def stage(dfs: DataFrame*): Double = {
      val t0 = System.nanoTime()
      if (staged) dfs.foreach { d => cached += d.persist(); d.count() }
      (System.nanoTime() - t0) / 1e9
    }
    var t0 = System.nanoTime()
    val noaaSchema = StructType(StructField("Year", IntegerType) +:
      (ClimateGen.NoaaTypes :+ "All Disasters").flatMap(t => Seq(
        StructField(s"$t Count", IntegerType), StructField(s"$t Cost", DoubleType))))
    val noaaWide = Clean.normalizeNames(
      Sources.csv(spark, raw.resolve("noaa.csv").toString, noaaSchema, Some("#")))._1
    val fema = Sources.csv(spark, raw.resolve("fema.csv").toString, Domain.fema)
    val edgarWide = ClimateGen.Gases.map { case (gas, _) =>
      gas -> Clean.stripPrefix(Xlsx.read(spark, raw.resolve(s"edgar_$gas.xlsx").toString), "Y_")
    }
    val grid = NetCdf.readVars(spark, raw.resolve("era5.nc").toString,
      ClimateGen.Era5Vars.map(_.name))
      .withColumn("date", date_format(date_add(lit("1970-01-01"), col("time").cast("int")),
        "yyyy-MM-dd"))
    val read = (System.nanoTime() - t0) / 1e9 + stage(noaaWide +: fema +: grid +: edgarWide.map(_._2): _*)

    t0 = System.nanoTime()
    val gazetteer = spark.createDataFrame(ClimateGen.Cities.map(c =>
      (c.name, c.country, c.lat, c.lon))).toDF("city", "country", "lat", "lon")
    val vars = ClimateGen.Era5Vars.map(_.name)
    val means = Geo.cityMonthMeans(Geo.reverseGeocode(grid, gazetteer), vars)
    val geocode = (System.nanoTime() - t0) / 1e9 + stage(means)

    t0 = System.nanoTime()
    val noaa = Unpivot.noaaToLong(noaaWide, ClimateGen.NoaaTypes)
    val edgar = edgarWide.map { case (gas, w) =>
      Unpivot.edgarToLong(w, Seq("IPCC_annex", "Country_code_A3", "Name", "Substance"))
        .withColumn("gas", lit(gas))
    }.reduce(_ unionByName _)
      .select("gas", "IPCC_annex", "Country_code_A3", "Name", "Substance", "year", "value")
    val metricOf = ClimateGen.Era5Vars.map(v => v.name -> v.metric).toMap
    val era5 = means
      .unpivot(Array(col("City"), col("date")), vars.map(col).toArray, "var", "value")
      .withColumn("metric", element_at(typedLit(metricOf), col("var")))
      .join(gazetteer.select(col("city").as("City"), col("country"),
        col("lat").as("latitude"), col("lon").as("longitude")), "City")
      .select("country", "City", "date", "latitude", "longitude", "metric", "value")
    val unpivot = (System.nanoTime() - t0) / 1e9 + stage(noaa, edgar, era5)

    t0 = System.nanoTime()
    val tables = Seq("noaa" -> noaa, "fema" -> fema, "edgar" -> edgar, "era5" -> era5)
    tables.foreach { case (n, df) => Sources.saveParquet(df, land.resolve(n).toString) }
    val landS = (System.nanoTime() - t0) / 1e9
    cached.foreach(_.unpersist())
    val rows = if (!staged) 0L
      else tables.map { case (n, _) => spark.read.parquet(land.resolve(n).toString).count() }.sum
    Etl(read, geocode, unpivot, landS, rows)
  }

  def tables(spark: SparkSession, land: Path): Map[String, DataFrame] =
    Seq("noaa", "fema", "edgar", "era5").map(n => n -> spark.read.parquet(land.resolve(n).toString)).toMap

  /** Landed tables against the generator: NOAA long rows, EDGAR sums per
    * gas and year, ERA5 city-month means. Returns the problems found. */
  def checkEtl(t: Map[String, DataFrame], gen: ClimateGen): Seq[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    val noaaGot = t("noaa").collect().map(r =>
      (r.getInt(0), r.getString(1), r.getInt(2), r.getDouble(3))).toSet
    val noaaWant = (for (y <- gen.noaaYears; (tp, i) <- ClimateGen.NoaaTypes.zipWithIndex)
      yield (y, tp, gen.noaa(y)(i)._1, gen.noaa(y)(i)._2)).toSet
    if (noaaGot != noaaWant) problems += s"noaa: ${(noaaGot diff noaaWant).take(3)} vs ${(noaaWant diff noaaGot).take(3)}"
    val edgarGot = t("edgar").groupBy("gas", "year").agg(sum("value")).collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val edgarWant = gen.edgarSums
    if (edgarGot != edgarWant)
      problems += s"edgar: ${edgarGot.toSet.diff(edgarWant.toSet).take(3)} vs ${edgarWant.toSet.diff(edgarGot.toSet).take(3)}"
    val era5Got = t("era5").select("City", "date", "metric", "value").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)) -> r.getDouble(3)).toMap
    val era5Want = gen.era5Means
    if (era5Got != era5Want)
      problems += s"era5: ${era5Got.toSet.diff(era5Want.toSet).take(3)} vs ${era5Want.toSet.diff(era5Got.toSet).take(3)}"
    problems.toSeq
  }

  private def answer(engine: ClimateEngine, q: Question): String = q.domain match {
    case "noaa" => engine.noaaAnswer(q.text)
    case "fema" => engine.femaAnswer(q.text)
    case "era5" => engine.era5Answer(q.text)
    case "edgar" => engine.edgarAnswer(q.text)
  }

  /** The `Parsers` entry points each domain's answer calls. */
  private def parse(q: Question, today: java.time.LocalDate): Unit = q.domain match {
    case "noaa" => Parsers.noaaDisasterTypes(q.text); Parsers.extractYearFilter(q.text)
    case "fema" =>
      val m = Parsers.detectMetrics(q.text, Domain.metricRegistry("fema"))
      Parsers.extractState(q.text); Parsers.extractIncidentType(q.text)
      Parsers.extractYearFilter(q.text).orElse(Parsers.extractYearNlp(q.text, today).map(Parsers.YearEq))
      m.headOption.foreach(Parsers.extractComparison(q.text, _))
    case "era5" =>
      Parsers.detectMetrics(q.text, Domain.metricRegistry("era5"))
      Parsers.extractDatesNlp(q.text, today)
    case "edgar" =>
      Parsers.detectMetrics(q.text, Domain.metricRegistry("edgar"))
      Parsers.extractYearFilter(q.text)
  }

  /** Entity resolution against the full dimensions, as the engine does it. */
  private def resolve(q: Question, cities: List[String], names: List[String]): Unit = {
    val cands = Parsers.entityCandidates(q.text)
    q.domain match {
      case "era5" =>
        if (!cands.exists(c => cities.exists(_.equalsIgnoreCase(c))))
          cands.flatMap(c => Parsers.fuzzyResolve(c, cities, 0.8))
      case "edgar" => cands.flatMap(c => Parsers.fuzzyResolve(c, names, 0.85))
      case _ =>
    }
  }

  def run(ctx: Ctx): Map[String, Any] = {
    val gen = new ClimateGen(ctx.seed)
    val etls = mutable.ArrayBuffer.empty[Etl]
    val (spark, setupS) = Harness.setUp(ctx) { (s, i) =>
      val raw = ctx.work.resolve(s"raw_$i")
      gen.writeRaw(raw)
      etls += etl(s, raw, ctx.work.resolve(s"land_$i"), staged = ctx.trace)
      if (i > 1) Harness.deleteTree(ctx.work.resolve(s"land_${i - 1}"))
      Harness.deleteTree(raw)
    }
    val t = tables(spark, ctx.work.resolve(s"land_${Harness.SetupReps}"))
    val etlProblems = checkEtl(t, gen)
    val warmUp = gen.cycle()
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    lazy val cities = t("era5").select("City").distinct().collect().map(_.getString(0)).toList.sorted
    lazy val names = t("edgar").select("Name").distinct().collect().map(_.getString(0)).toList.sorted
    if (ctx.trace) { cities; names }
    val samples = mutable.ArrayBuffer.empty[Sample]
    val layer = mutable.ArrayBuffer.empty[(Boolean, Double, SpanStats, Double, Double)]
    // two unmeasured warm-up sessions, with questions of their own
    warmUp.take(2).foreach { session =>
      val engine = new ClimateEngine(spark, t, EchoLlm, NullGeocoder, gen.today)
      session.foreach(answer(engine, _))
    }
    val gc0 = Harness.gcSeconds()
    // a round is one cycle of sessions, each on a fresh engine
    val nRounds = Harness.rounds(ctx.seconds, TailRounds) { round =>
      gen.cycle().zipWithIndex.foreach { case (session, k) =>
        val engine = new ClimateEngine(spark, t, EchoLlm, NullGeocoder, gen.today)
        session.zipWithIndex.foreach { case (q, i) =>
          val kind = if (i == 0) "first" else "next"
          val id = s"r$round.s$k.q$i"
          var st: SpanStats = null
          val sample = Harness.timed(q.domain, kind, round) {
            tracer match {
              case None => answer(engine, q)
              case Some(tr) =>
                val (a, stats) = tr.span(s"engine.${q.domain}", id)(answer(engine, q))
                st = stats
                a
            }
          }
          for (tr <- tracer if st != null) {
            val parseMs = timeMs(tr.child("nlp.parse", id)(parse(q, gen.today)))
            val resolveMs =
              if (q.domain == "era5" || q.domain == "edgar")
                timeMs(tr.child("nlp.resolve", id)(resolve(q, cities, names)))
              else -1.0
            layer += ((i == 0, sample.ns / 1e6, st, parseMs, resolveMs))
          }
          samples += sample.copy(extra = Map("expected" -> q.expected, "template" -> q.kind,
            "first" -> (i == 0), "lat" -> true))
        }
      }
    }
    val gcS = Harness.gcSeconds() - gc0
    val heapMb = Harness.retainedHeapMb()
    val spans = tracer.map(_.close()).getOrElse(Nil)
    spark.stop()
    val perLayer = if (!ctx.trace) None else {
      val e = etls.last
      val next = layer.filterNot(_._1)
      def med(f: ((Boolean, Double, SpanStats, Double, Double)) => Double) =
        Harness.median(layer.map(f).toSeq)
      def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
      Some(Map(
        "ingest.read_s" -> e.read, "ingest.geocode_s" -> e.geocode,
        "ingest.unpivot_s" -> e.unpivot, "ingest.land_s" -> e.land,
        "ingest.rows_landed" -> e.rows.toDouble,
        "nlp.parse_ms" -> med(_._4),
        "nlp.resolve_ms" -> Harness.median(layer.filter(_._5 >= 0).map(_._5).toSeq),
        "query.plan_ms" -> med(_._3.planMs),
        "engine.driver_ms" -> med(l => l._2 - l._3.jobMs - l._3.planMs),
        "engine.jobs_per_answer" -> mean(next.map(_._3.jobs.toDouble).toSeq),
        "engine.tasks_per_answer" -> mean(next.map(_._3.tasks.toDouble).toSeq),
        "engine.job_ms" -> med(_._3.jobMs),
        "engine.rows_scanned" -> mean(layer.map(_._3.inputRows.toDouble).toSeq),
        "engine.first_jobs" -> mean(layer.filter(_._1).map(_._3.jobs.toDouble).toSeq),
        "jvm.gc_s" -> gcS))
    }
    Map(
      "setup_s" -> setupS,
      "rounds" -> nRounds,
      "tail_rounds" -> TailRounds,
      "heap_retained_mb" -> heapMb,
      "gc_s" -> gcS,
      "etl_problems" -> etlProblems,
      "samples" -> samples.toSeq,
      "layer" -> perLayer,
      "spans" -> spans)
  }

  private def timeMs(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e6
  }
}
