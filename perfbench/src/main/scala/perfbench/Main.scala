package perfbench

import java.nio.file.{Files, Paths}

/** JVM side of the benchmark. `run.py` builds this, generates the run's
  * inputs from the seed and calls
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *     --lake <dir> --batch-lake <dir> --inputs <dir>
  *     --work <dir> --cpus <n> --out <file>
  *
  * The workload writes one JSON object to `--out`: op counts, raw metric
  * values and the paths `run.py` needs for its own result checks.
  * `--workload digests` is not a benchmark workload: it writes the row
  * count, order-insensitive digest and oracle SQL of every headliner,
  * for `oracle_check.py`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts.parse(args)
    Files.createDirectories(Paths.get(o.work))
    val report = o.workload match {
      case "dashboard" => Dashboard.run(o)
      case "ingest" => Ingest.run(o)
      case "digests" => Headliners.digests(o)
      case w => throw new IllegalArgumentException(s"unknown workload: $w")
    }
    Files.write(Paths.get(o.out), report.json.getBytes("UTF-8"))
  }
}

final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
    lake: String, batchLake: String, inputs: String, work: String, cpus: Int,
    out: String) {
  /** Set-ups per run (the first in a cold JVM, the second warm); the
    * traced run reports no set-up time.
    */
  def setups: Int = if (trace) 1 else 2
}

object Opts {
  def parse(args: Array[String]): Opts = {
    require(args.length % 2 == 0, s"expected --key value pairs: ${args.mkString(" ")}")
    val m = args.grouped(2).map(kv => kv(0).stripPrefix("--") -> kv(1)).toMap
    Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("lake"), m("batch-lake"), m("inputs"), m("work"), m("cpus").toInt, m("out"))
  }
}
