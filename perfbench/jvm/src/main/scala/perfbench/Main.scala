package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
    data: String, work: String, out: String, launchMs: Double)

/** One benchmark run in one JVM: set up, measure, check, and write the raw
  * record (samples, checks, and with tracing on, spans) as JSON for
  * `perfbench/run.py` to turn into metrics. */
object Main {
  val Workloads = Seq("registry_sf0.01", "ladder_10x", "pipeline_live")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toInt, m("trace") == "1",
      m("data"), m("work"), m("out"), m("launch-ms").toDouble)
  }

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  /** Heap and non-heap in use after a full collection: what the program
    * still holds when the run ends. */
  def retainedMb(): Double = {
    System.gc()
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed) / 1048576.0
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    require(Workloads.contains(args.workload), s"unknown workload ${args.workload}")
    // pipeline_live gives Spark half the cores: the generator, the HTTP
    // client and server and the streaming driver threads run beside the
    // tasks, and with every core given to tasks the spread between runs of
    // the same code grew with the host's load.
    val hostCores = Runtime.getRuntime.availableProcessors()
    val cores = if (args.workload == "pipeline_live") math.max(1, hostCores / 2) else hostCores
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config(graft.Tables.NanosAsLongConf, "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(spark, args.trace)
    val sessionMs = trace.nowMs()
    val body = args.workload match {
      case "registry_sf0.01" => Batch.run(spark, trace, args, Batch.registrySet, args.data)
      case "ladder_10x" => Batch.run(spark, trace, args, Batch.ladderSet, args.data)
      case "pipeline_live" => Pipeline.run(spark, trace, args, args.data)
    }
    trace.drain()
    val spans = trace.allSpans.map(s => Map("id" -> s.id, "parent" -> s.parent,
      "name" -> s.name, "start" -> s.startMs, "end" -> s.endMs, "attrs" -> s.attrs))
    val out = body ++ Map(
      "workload" -> args.workload,
      "seed" -> args.seed,
      "cores" -> cores,
      "session_s" -> (sessionMs - args.launchMs) / 1000.0,
      "peak_rss_mb" -> peakRssMb(),
      "retained_mb" -> retainedMb(),
      "jvm_s" -> (trace.nowMs() - args.launchMs) / 1000.0,
      "spans" -> spans)
    new ObjectMapper().registerModule(DefaultScalaModule).writeValue(new java.io.File(args.out), out)
    // ApiServer.stop() leaves its request pool's threads running, so a JVM
    // that started a server never ends on its own. Halting also skips
    // Spark's shutdown hooks; the caller deletes the run's directory.
    Runtime.getRuntime.halt(0)
  }
}
