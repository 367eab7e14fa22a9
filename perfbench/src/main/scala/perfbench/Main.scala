package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** One benchmark run in its own JVM: `--workload --seed --seconds --trace
  * --work <dir> [--data <dir>]`. Writes the run's report to
  * `<work>/report.json`; run.py adds the output checks and prints the
  * result line. */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    Files.createDirectories(a.work)
    val r = new Report(a.workload)
    a.workload match {
      case "catalog" => Catalog.run(a, r)
      case "feed" => FeedRun.run(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(a.work.resolve("report.json"), r.toJson.getBytes(StandardCharsets.UTF_8))
    // Spark and HTTP threads are non-daemon in places; the run is over
    System.exit(0)
  }
}
