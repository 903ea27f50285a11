package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark: starts one session, runs one workload's
  * setup, warm-up and closed-loop timed ops, and writes a result file for
  * perfbench/run.py (which computes the metrics and runs the oracle pass).
  *
  * Usage: perfbench.Main --workload W --data DIR --work DIR --seconds S
  *          --trace 0|1 --out FILE [--cpus N]
  *
  * With --trace 1 the first half of the time runs untraced ops; then the
  * same requests run again with spans and listeners on, so the tracing
  * overhead is the difference of the two halves' median op walls.
  */
object Main {
  final case class OpRec(i: Int, req: String, startNs: Long, endNs: Long,
                         ok: Boolean, err: String) {
    def ms: Double = (endNs - startNs) / 1e6
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload"); val data = opt("data"); val work = opt("work")
    val seconds = opt("seconds").toDouble; val trace = opt("trace") == "1"
    val cpus = opt.getOrElse("cpus", Runtime.getRuntime.availableProcessors().toString)

    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = graft.GraftSession.builder(cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark_local")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.GraftSession.attachMetricsLogger(spark)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val wl = Workload(workload, spark, data, work)
    val (_, setupMs) = Workload.timedMs(wl.setup())
    val (_, warmMs) = Workload.timedMs(wl.warmup())

    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "session_s" -> sessionS,
      "derived_setup_s" -> setupMs / 1000.0, "warmup_s" -> warmMs / 1000.0)
    if (!trace) {
      val ops = loop(wl, seconds, None, 0)
      result ++= Map("ops" -> opsJson(ops), "rss_peak_mb" -> rssPeakMb())
    } else {
      val plain = loop(wl, seconds / 2, None, 0)
      val tr = new Tracer(spark)
      tr.attach()
      // the same requests again, traced: op ids one request cycle later
      val first = (plain.size + wl.cycle - 1) / wl.cycle * wl.cycle
      val traced = loop(wl, Double.PositiveInfinity, Some(tr), first, plain.size)
      tr.detach()
      val (layers, perOp) = tr.summarize()
      val extras = wl.traceExtras(tr)
      val spans = tr.spanTable()
      Files.writeString(Paths.get(s"$work/trace_spans.json"), Json(spans))
      result ++= Map("ops" -> opsJson(plain ++ traced), "plain_ops" -> plain.size,
        "layers" -> (layers ++ extras), "per_op" -> perOp,
        "spans" -> s"$work/trace_spans.json", "rss_peak_mb" -> rssPeakMb())
    }
    result += ("manifest" -> wl.finish())
    result += ("oracle_sql" -> wl.oracleNames.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap)
    Files.writeString(Paths.get(opt("out")), Json(result))
    spark.stop()
  }

  /** Closed loop, one client: the next op starts when the previous ends.
    * Runs for `seconds` (at least one op) or `maxOps` ops, whichever ends first.
    */
  private def loop(wl: Workload, seconds: Double, tr: Option[Tracer], first: Int,
                   maxOps: Int = Int.MaxValue): Seq[OpRec] = {
    val out = mutable.ArrayBuffer.empty[OpRec]
    val deadline = if (seconds.isInfinite) Long.MaxValue
      else System.nanoTime() + (seconds * 1e9).toLong
    var i = first
    while ((out.isEmpty || System.nanoTime() < deadline) && out.size < maxOps && wl.hasNext) {
      val req = wl.request(i)
      val t0 = System.nanoTime()
      val err = try {
        tr match {
          case None => wl.op(i, None)
          case Some(t) => t.span(req, "op", i)(wl.op(i, tr))
        }
        ""
      } catch { case e: Throwable => s"${e.getClass.getName}: ${e.getMessage}".take(500) }
      out += OpRec(i, req, t0, System.nanoTime(), err.isEmpty, err)
      i += 1
    }
    out.toSeq
  }

  private def opsJson(ops: Seq[OpRec]): Seq[Map[String, Any]] = ops.map { o =>
    Map("op" -> o.i, "req" -> o.req, "ms" -> o.ms, "ok" -> o.ok, "err" -> o.err)
  }

  /** The JVM's peak resident set (VmHWM) in MB. */
  private def rssPeakMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }
}
