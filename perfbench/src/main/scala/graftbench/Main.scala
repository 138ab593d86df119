package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark entry point. Drives the program only through its public entry
  * points (`Engine.start`, `Intake.replay`, `QueryDef.fn`) on inputs made
  * from the tables under `--data` and `--seed`, and writes one result file
  * that `run.py` turns into the printed report:
  *
  * {{{
  *   graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                   --data <sf dir> --work <dir> --out <result.json>
  * }}}
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        data: String, work: String, out: String)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def req(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(req("workload"), req("seed").toLong, req("seconds").toInt, req("trace") == "1",
      req("data"), req("work"), req("out"))
  }

  /** Seconds from JVM launch to now — the JVM's share of set-up. */
  def jvmUptimeS: Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  def session(cores: Int, work: String): SparkSession = {
    val s = graft.GraftSession.builder(cores.toString)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val report = new Report
    val spark = session(Runtime.getRuntime.availableProcessors(), o.work)
    report.setup("jvm+session", jvmUptimeS)
    val tracer = if (o.trace) Some(Tracer.install(spark)) else None
    try {
      o.workload match {
        case "cdc_backfill" => CdcWorkloads.run(spark, o, report, tracer)
        case "intake_stream" => IntakeWorkload.run(spark, o, report, tracer)
        case w => throw new IllegalArgumentException(s"unknown workload '$w'")
      }
    } catch {
      case t: Throwable =>
        report.fail(s"${o.workload} aborted", t)
        t.printStackTrace()
    }
    tracer.foreach(_.writeSpans(s"${o.work}/spans.jsonl"))
    Jvm.record(report)
    Files.write(Paths.get(o.out), report.json.getBytes(StandardCharsets.UTF_8))
    spark.stop()
    // the stub broker's connection threads are not daemons
    sys.exit(0)
  }
}
