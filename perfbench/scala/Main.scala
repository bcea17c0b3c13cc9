package perfbench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

final case class Args(workload: String, inputs: String, work: String, seconds: Double,
    trace: Boolean, cpus: Int, queries: Seq[String], leadQueries: Seq[String], out: String,
    onDemand: Boolean, setupReps: Int, startMs: Double)

/** JVM side of the benchmark. `run.py` generates the inputs, starts this
  * main once per run and turns the raw result file into metrics:
  *
  * {{{--workload <name> --inputs <dir> --work <dir> --seconds <s> --trace <0|1>
  *    --cpus <n> --queries <q1,q2,..> [--lead-queries <q1,..>] --out <result.json>
  *    [--on-demand <0|1>] [--setup-reps <n>]}}}
  *
  * Set-up runs `--setup-reps` times (default 3) and the last one is measured;
  * run.py reports the median set-up time.
  */
object Main {
  def session(args: Args): SparkSession =
    graft.GraftSession.tune(
      graft.GraftSession.build(s"local[${args.cpus}]", "perfbench", args.cpus))

  /** Bytes written through Hadoop's local file system (checkpoints,
    * offsets, state spills) since the JVM started. */
  def localFsWrites(): Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  private def list(arg: Option[String]): Seq[String] =
    arg.map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil)

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val args = Args(o("workload"), o("inputs"), o("work"), o("seconds").toDouble,
      o("trace") == "1", o("cpus").toInt,
      list(o.get("queries")), list(o.get("lead-queries")), o("out"),
      o.getOrElse("on-demand", "1") == "1", o.getOrElse("setup-reps", "3").toInt, Now.ms())
    val heap = new HeapPeak
    val result = args.workload match {
      case "batch_mix" => BatchMix.run(args, heap)
      case "stream_live" | "stream_catchup" => Streams.run(args, heap)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    Json.write(args.out, result + ("heap_live_peak_mb" -> heap.peakMb))
    // Spark leaves non-daemon threads behind; the result is written, so end here.
    sys.exit(0)
  }
}
