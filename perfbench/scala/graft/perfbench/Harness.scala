package graft.perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** Run options, as passed by run.py. `work` is this run's private
  * directory (artifacts, warehouse, temp and landed data live under it). */
final case class Ctx(workload: String, seed: Long, seconds: Double, trace: Boolean,
                     work: Path, data: Path, cpus: Int)

/** One timed operation. `ok` is false when it threw; `out` is a digest
  * of its output, compared against the checked output by run.py. */
final case class Sample(op: String, kind: String, round: Int, ns: Long, ok: Boolean,
                        out: String = "", extra: Map[String, Any] = Map.empty)

object Harness {
  val SetupReps = 3

  def session(ctx: Ctx): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${ctx.cpus}]")
      .appName(s"perfbench-${ctx.workload}")
      .config("spark.sql.shuffle.partitions", ctx.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", ctx.work.resolve("warehouse").toString)
      .config("spark.local.dir", ctx.work.resolve("local").toString)
      .config("spark.sql.ui.retainedExecutions", "20")
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "200")
      .config("spark.ui.retainedTasks", "5000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** JIT/codegen warm-up of the shapes every workload uses (aggregate,
    * window, broadcast join), so no first operation absorbs them. */
  def warmUp(spark: SparkSession): Unit = {
    spark.range(200000).selectExpr("sum(id * 2)", "count(distinct id % 97)").collect()
    spark.range(20000)
      .selectExpr("id", "row_number() OVER (PARTITION BY id % 100 ORDER BY id) AS rk")
      .filter("rk <= 3").count()
    val l = spark.range(20000).selectExpr("id AS k", "id * 2 AS v")
    val r = spark.range(100).selectExpr("id AS k", "id AS w")
    l.join(org.apache.spark.sql.functions.broadcast(r), "k").count()
  }

  /** Start the session, then warm up and `prepare` `SetupReps` times;
    * the set-up time is the session start plus the median repetition. */
  def setUp(ctx: Ctx)(prepare: (SparkSession, Int) => Unit): (SparkSession, Double) = {
    val t0 = System.nanoTime()
    val spark = session(ctx)
    val start = (System.nanoTime() - t0) / 1e9
    val reps = (1 to SetupReps).map { i =>
      val t1 = System.nanoTime()
      warmUp(spark)
      prepare(spark, i)
      (System.nanoTime() - t1) / 1e9
    }
    (spark, start + median(reps))
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Run whole rounds until `seconds` have passed and at least `min`
    * rounds ran. The tail percentile is taken over the first `min`
    * rounds only, so it is the same percentile however fast rounds are. */
  def rounds(seconds: Double, min: Int)(round: Int => Unit): Int = {
    val t0 = System.nanoTime()
    var n = 0
    while (n < min || (System.nanoTime() - t0) / 1e9 < seconds) { round(n); n += 1 }
    n
  }

  /** Time `f`; a throw is recorded as a failed sample, never rethrown. */
  def timed(op: String, kind: String, round: Int)(f: => String): Sample = {
    val t0 = System.nanoTime()
    try {
      val out = f
      Sample(op, kind, round, System.nanoTime() - t0, ok = true, out)
    } catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $op failed: $e")
        Sample(op, kind, round, System.nanoTime() - t0, ok = false, s"error: $e")
    }
  }

  /** Heap in use after a full collection, in MB. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    System.gc(); System.gc()
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

  def gcSeconds(): Double = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum / 1000.0
  }

  def md5(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) graft.sources.Sources.deleteRecursively(p.toFile)

  // ---- JSON ----------------------------------------------------------

  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(json).mkString("[", ",", "]")
    case s: Sample => json(Map("op" -> s.op, "kind" -> s.kind, "round" -> s.round,
      "ns" -> s.ns, "ok" -> s.ok, "out" -> s.out) ++ s.extra)
    case s: SpanRec => json(Map("name" -> s.name, "request" -> s.requestId,
      "parent" -> s.parent, "start_ns" -> s.startNs, "end_ns" -> s.endNs))
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def writeJson(p: Path, v: Any): Unit = {
    Files.createDirectories(p.getParent)
    Files.writeString(p, json(v))
  }
}
