package graft.perfbench

import java.nio.file.Paths

/** Harness entry point, started by run.py in its own JVM per run:
  *
  *   Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *        --work <dir> --data <dir> --cpus <n>
  *
  * Writes `<work>/result.json`: set-up time, every timed operation with
  * its output digest, and (traced runs) the per-layer metrics and spans.
  * run.py checks the outputs and turns the samples into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val ctx = Ctx(opt("workload"), opt("seed").toLong, opt("seconds").toDouble,
      opt("trace") == "1", Paths.get(opt("work")), Paths.get(opt("data")), opt("cpus").toInt)
    if (ctx.workload == "oracle") {
      // only the oracle SQL of the corpus queries, for oracle.py
      Corpus.writeOracleSql(ctx.work, Corpus.queryNames)
      return
    }
    val result = ctx.workload match {
      case "climate_qa" => Climate.run(ctx)
      case "corpus_prep" => Corpus.run(ctx)
      case w => sys.error(s"unknown workload $w")
    }
    Harness.writeJson(ctx.work.resolve("result.json"), result)
  }
}
