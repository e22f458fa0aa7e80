package graft.perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.BenchAccess
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** `corpus_prep`: LLM data preparation over a seeded corpus with the
  * make-up and size of the sf0.01 test tables (`corpusgen.py`). A round
  * is a batch pass (one query per operator family), then the serving
  * row's first call on an emptied artifact directory, which builds its
  * rolling artifact from cold wave by wave, then as-of reads of the
  * landed artifact; the reads are the round's latency sample. Every
  * query is called by name through `SparkEntry.queries` and collected
  * in full; each query's first output is written for the DuckDB replay,
  * and every later call must reproduce its digest. An unmeasured
  * warm-up round (the batch pass and the build, no reads) comes first:
  * a query's first calls in a JVM run up to twice as slow while the
  * JIT compiles, and that cost varies from run to run. */
object Corpus {
  /** One query per LLM-prep operator family that fits the run budget:
    * MinHash source overlap, distributed percentiles, and the
    * cross-modal hybrid with its in-query Lloyd fit. */
  val batchQueries: Seq[String] = Seq(
    "c7_source_overlap", "e20_mad_outliers", "h11_crossmodal_hybrid")

  /** As-of serving row. Its first call in a round builds the artifact
    * (`SearchOps.rollingPosState`: three `doc_id mod 3` ingest waves)
    * that the round's later calls read. */
  val serveQuery = "k15_asof_bm25"
  val Waves = 3
  val ServeReads = 6

  /** Rounds always measured; the tail percentile is taken over their reads. */
  val TailRounds = 1

  val queryNames: Seq[String] = batchQueries :+ serveQuery

  private def digest(rows: Array[Row]): String =
    Harness.md5(rows.map(_.toString).sorted.mkString("\n"))

  /** Write the program's oracle SQL (and materialization hints) for
    * `names` next to the outputs, for the DuckDB replay. */
  def writeOracleSql(dir: Path, names: Seq[String]): Unit = {
    Harness.writeJson(dir.resolve("oracle_sql.json"),
      names.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
    Harness.writeJson(dir.resolve("oracle_hints.json"),
      graft.SparkEntry.oracleHints.filter(h => names.contains(h._1))
        .map { case (n, (setup, sql)) => n -> Map("setup" -> setup, "sql" -> sql) })
  }

  /** Run one query to full materialization. */
  private def runQuery(spark: SparkSession, data: Path, name: String): (Array[Row], StructType) = {
    val df = graft.SparkEntry.queries(name)(spark, data.toString)
    (df.collect(), df.schema)
  }

  private final case class Traced(name: String, kind: String, wallS: Double,
                                  st: SpanStats, blocksLeft: Int)

  def run(ctx: Ctx): Map[String, Any] = {
    val artifacts = ctx.work.resolve("artifacts")
    val (spark, setupS) = Harness.setUp(ctx) { (s, _) =>
      Seq("documents", "embeddings", "events").foreach(t => graft.Tables(s, ctx.data.toString, t).count())
    }
    val tracer = if (ctx.trace) Some(new Tracer(spark)) else None
    val outputs = ctx.work.resolve("outputs")
    val samples = mutable.ArrayBuffer.empty[Sample]
    val layer = mutable.ArrayBuffer.empty[Traced]
    val gc0 = Harness.gcSeconds()

    val reference = mutable.LinkedHashMap.empty[String, String]
    writeOracleSql(ctx.work, queryNames)

    def call(name: String, kind: String, round: Int, extra: Map[String, Any] = Map.empty): Unit = {
      var rows: Array[Row] = null
      var schema: StructType = null
      def body(): String = {
        val (r, sc) = runQuery(spark, ctx.data, name)
        rows = r
        schema = sc
        digest(r) + ":" + sc.simpleString
      }
      var st: SpanStats = null
      val sample = Harness.timed(name, kind, round) {
        tracer match {
          case None => body()
          case Some(t) =>
            val (d, stats) = t.span(name, s"$name#$round")(body())
            st = stats
            d
        }
      }
      spark.catalog.clearCache()
      if (st != null)
        layer += Traced(name, kind, sample.ns / 1e9, st, BenchAccess.heldBlocks(spark.sparkContext))
      if (round >= 0) samples += sample.copy(extra = extra)
      // a query's first output is the one checked against the oracle;
      // every later call must reproduce its digest
      if (!reference.contains(name)) {
        reference(name) = sample.out
        if (sample.ok) spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
          .write.mode("overwrite").parquet(outputs.resolve(name).toString)
      }
      System.gc()
    }

    // every round, the warm-up too, builds the serving artifact from cold
    def build(kind: String, r: Int): Unit = {
      Harness.deleteTree(artifacts)
      Files.createDirectories(artifacts)
      call(serveQuery, kind, r)
    }
    batchQueries.foreach(call(_, "warm", -1))
    build("warm", -1)
    var artifactMb = 0.0
    val nRounds = Harness.rounds(ctx.seconds, TailRounds) { r =>
      batchQueries.zipWithIndex.foreach { case (q, i) =>
        call(q, "batch", r, Map("first" -> (i == 0)))
      }
      build("build", r)
      artifactMb = dirBytes(artifacts) / 1048576.0
      for (_ <- 1 to ServeReads) call(serveQuery, "serve", r, Map("lat" -> true))
    }
    val gcS = Harness.gcSeconds() - gc0
    val heapMb = Harness.retainedHeapMb()
    val spans = tracer.map(_.close()).getOrElse(Nil)
    spark.stop()
    Map(
      "setup_s" -> setupS,
      "rounds" -> nRounds,
      "tail_rounds" -> TailRounds,
      "heap_retained_mb" -> heapMb,
      "gc_s" -> gcS,
      "queries" -> queryNames,
      "reference" -> reference,
      "samples" -> samples.toSeq,
      "layer" -> (if (ctx.trace) Some(layerMetrics(layer.toSeq, nRounds, artifactMb, gcS)) else None),
      "spans" -> spans)
  }

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum

  private def layerMetrics(layer: Seq[Traced], rounds: Int,
                           artifactMb: Double, gcS: Double): Map[String, Double] = {
    val mb = 1048576.0
    def perQuery(prefix: String, kinds: Set[String]): Map[String, Double] =
      layer.filter(l => kinds(l.kind)).groupBy(_.name).map { case (n, ls) =>
        s"$prefix.${n}_s" -> Harness.median(ls.map(_.wallS))
      }
    def blocksLeft(kinds: Set[String]) =
      Harness.median(layer.filter(l => kinds(l.kind)).map(_.blocksLeft.toDouble))
    val batch = layer.filter(_.kind == "batch")
    def perPass(f: SpanStats => Double) = batch.map(l => f(l.st)).sum / rounds
    val builds = layer.filter(_.kind == "build")
    val waves = (builds.size * Waves).toDouble
    // a build call also serves one read; its waves are the rest
    val serveJobs = Harness.median(layer.filter(_.kind == "serve").map(_.st.jobs.toDouble))
    val serveStages = Harness.median(layer.filter(_.kind == "serve").map(_.st.stages.toDouble))
    perQuery("queries", Set("batch")) ++ perQuery("streaming", Set("build")) ++ Map(
      "queries.jobs" -> perPass(_.jobs),
      "queries.stages" -> perPass(_.stages),
      "queries.task_s" -> perPass(_.taskMs / 1000.0),
      "queries.shuffle_mb" -> perPass(_.shuffleBytes / mb),
      "queries.spill_mb" -> perPass(_.spillBytes / mb),
      "queries.plan_ms" -> perPass(_.planMs),
      "queries.blocks_left" -> blocksLeft(Set("batch")),
      "streaming.jobs_per_wave" -> builds.map(_.st.jobs - serveJobs).sum / waves,
      "streaming.stages_per_wave" -> builds.map(_.st.stages - serveStages).sum / waves,
      "streaming.bytes_written_mb" -> builds.map(_.st.writtenBytes / mb).sum / builds.size,
      "streaming.artifact_mb" -> artifactMb,
      "streaming.serve_jobs" -> serveJobs,
      "streaming.blocks_left" -> blocksLeft(Set("build", "serve")),
      "jvm.gc_s" -> gcS)
  }
}
