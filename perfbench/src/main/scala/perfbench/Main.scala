package perfbench

import java.io.File

/** Benchmark entry point. One JVM runs one workload and prints the result
  * object as the last line of standard output:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --work <dir> [--tiny] [--fault <name>] [--record-hashes]
  *
  * `--tiny` shrinks every input for the self-test, `--fault` plants a
  * defect in the benchmark's own sink or query wrapper so the self-test
  * can show that the output checks catch it, and `--record-hashes`
  * rewrites the query result hashes the query_mix check compares with.
  * The exit code is 0 only when every output check passed.
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val opts = Opts.parse(argv)
    val outcome =
      try {
        opts.workload match {
          case "ingest_bulk" => IngestBulk.run(opts)
          case "stream_open" => StreamOpen.run(opts)
          case "query_mix" => QueryMix.run(opts)
          case w => throw new IllegalArgumentException(s"unknown workload $w")
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          Outcome.crashed(s"${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    val (line, correct) = Metrics.resultJson(outcome, opts.trace)
    System.out.println(line)
    System.out.flush()
    // exit hard: a lingering non-daemon thread must not keep the JVM alive
    Runtime.getRuntime.halt(if (correct) 0 else 1)
  }
}

final case class Opts(
    workload: String,
    seed: Long,
    seconds: Int,
    trace: Boolean,
    work: File,
    tiny: Boolean,
    fault: Option[String],
    recordHashes: Boolean)

object Opts {
  def parse(argv: Array[String]): Opts = {
    def value(flag: String): Option[String] = {
      val i = argv.indexOf(flag)
      if (i >= 0 && i + 1 < argv.length) Some(argv(i + 1)) else None
    }
    def need(flag: String): String =
      value(flag).getOrElse(throw new IllegalArgumentException(s"missing $flag"))
    val seconds = need("--seconds").toInt
    require(seconds >= 1, "--seconds must be at least 1")
    val trace = need("--trace") match {
      case "0" => false
      case "1" => true
      case t => throw new IllegalArgumentException(s"--trace must be 0 or 1, got $t")
    }
    val work = new File(need("--work")).getAbsoluteFile
    work.mkdirs()
    Opts(need("--workload"), need("--seed").toLong, seconds, trace, work,
      argv.contains("--tiny"), value("--fault"), argv.contains("--record-hashes"))
  }
}

/** A workload run's result: the counts of the contract's result object,
  * the failed output checks, and the metrics measured. */
final case class Outcome(
    attempted: Long,
    failed: Long,
    problems: Seq[String],
    metrics: Map[String, Double])

object Outcome {
  def crashed(why: String): Outcome = Outcome(1L, 1L, Seq(why), Map.empty)
}
