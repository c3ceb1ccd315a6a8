package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}

/** Harness JVM of the benchmark; `perfbench/run.py` launches it.
  *
  * usage: Main --workload <diag_report|query_board> --seed <n>
  *   --seconds <s> --trace <0|1> --data <input dir> --work <dir>
  *   --launched <epoch seconds when the launcher started this JVM>
  *
  * Runs the workload closed-loop with one client on `local[nproc]` and
  * writes `<work>/result.json` (raw samples, outputs to check, per-layer
  * numbers) and, when tracing, `<work>/spans.json`. The launcher turns
  * these into the benchmark's result line.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, data: String, work: String, launched: Double)

  def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("data"), need("work"), need("launched").toDouble)
  }

  def session(work: String): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors.toString
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** CPU time this JVM has used so far, over all its threads (Spark
    * tasks, the driver, GC and JIT compiler threads), in seconds. Time
    * the host or the OS gives to other work is not in it. */
  def cpuS: Double = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  /** Time the JIT compilers have spent so far, in seconds. */
  def jitS: Double =
    java.lang.management.ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** JVM resident-set high-water mark, in MB (Linux `VmHWM`). */
  def peakRssMb: Double =
    try {
      val line = scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024
    } catch { case scala.util.control.NonFatal(_) => -1.0 }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val spark = session(a.work)
    val setupWallS = System.currentTimeMillis() / 1e3 - a.launched
    val setupCpuS = cpuS
    val trace = new Trace(s"${a.workload}-${a.seed}", a.trace)
    val out = a.workload match {
      case "diag_report" => DiagBench.run(spark, a, trace)
      case "query_board" => QueryBench.run(spark, a, trace)
      case w => sys.error(s"unknown workload $w")
    }
    val result = out ++ Map("setup_s" -> setupCpuS, "setup_wall_s" -> setupWallS,
      "peak_rss_mb" -> peakRssMb)
    Files.writeString(Paths.get(a.work, "result.json"), JsonOut(result))
    if (a.trace) Files.writeString(Paths.get(a.work, "spans.json"), trace.toJson)
    spark.stop()
  }
}

/** What one operation cost: wall-clock seconds, and CPU seconds of the
  * whole JVM. */
final case class Cost(wallS: Double, cpuS: Double) {
  def +(o: Cost): Cost = Cost(wallS + o.wallS, cpuS + o.cpuS)
}

object Cost {
  val zero: Cost = Cost(0, 0)

  def of(body: => Unit): Cost = {
    val c0 = Main.cpuS
    val t0 = System.nanoTime()
    body
    Cost((System.nanoTime() - t0) / 1e9, Main.cpuS - c0)
  }
}

/** Minimal JSON encoder for the result file. */
object JsonOut {
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => graft.Json.quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] => m.toSeq.sortBy(_._1.toString)
      .map { case (k, x) => graft.Json.quote(k.toString) + ":" + apply(x) }
      .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o: Option[_] => o.map(apply).getOrElse("null")
    case other => graft.Json.quote(other.toString)
  }
}
