package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** What one run found: operations attempted and failed (each failure with
  * its reason), correctness errors, and the metrics it reports.
  */
final class Outcome {
  var attempted = 0L
  var failed = 0L
  val failReasons = mutable.LinkedHashMap[String, Long]()
  val errors = mutable.ArrayBuffer[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()

  def op(failure: Option[String]): Unit = {
    attempted += 1
    failure.foreach { r => failed += 1; failReasons(r) = failReasons.getOrElse(r, 0L) + 1 }
  }
  def check(cond: Boolean, what: => String): Unit = if (!cond) errors += what
  def put(name: String, value: Double, unit: String): Unit = metrics(name) = (value, unit)
}

/** Everything a workload needs. Set-up time is what the workload spends
  * before its timed phase, session start included, excluding the
  * benchmark's own oracle and checks.
  */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Double,
    val tracer: Tracer, val meter: Option[Meter], val work: String, val nproc: Int) {
  val out = new Outcome
  var setupNs = 0L

  def setup[A](label: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try body
    finally {
      val ns = System.nanoTime() - t0
      setupNs += ns
      System.err.println(f"[setup] $label: ${ns / 1e9}%.2f s")
    }
  }

  def traced: Boolean = tracer.enabled

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (meter.isDefined) org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** Switch span recording and the listener on or off (traced runs only). */
  def tracing(on: Boolean): Unit = if (traced && tracer.active != on) {
    drain()
    tracer.active = on
    meter.foreach(m => if (on) spark.sparkContext.addSparkListener(m) else spark.sparkContext.removeSparkListener(m))
  }

  def dir(name: String): String = s"$work/$name"
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
}

object Main {

  val workloads: Map[String, Ctx => Unit] = Map(
    "index" -> IndexWorkload.run,
    "window" -> WindowWorkload.run,
    "clean" -> CleanWorkload.run)

  private def arg(args: Array[String], name: String): String = {
    val i = args.indexOf(s"--$name")
    require(i >= 0 && i + 1 < args.length, s"missing --$name")
    args(i + 1)
  }

  private def json(o: Outcome, correct: Boolean): String = {
    val ms = o.metrics.map { case (k, (v, u)) =>
      val num = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
      s""""$k": {"value": $num, "unit": "$u"}"""
    }.mkString(", ")
    s"""{"correct": $correct, "attempted": ${o.attempted}, "failed": ${o.failed}, "metrics": {$ms}}"""
  }

  def main(args: Array[String]): Unit = {
    val workload = arg(args, "workload")
    val seed = arg(args, "seed").toLong
    val seconds = arg(args, "seconds").toDouble
    val trace = arg(args, "trace") == "1"
    val work = arg(args, "work")
    val nproc = arg(args, "nproc").toInt
    val run = workloads.getOrElse(workload, throw new IllegalArgumentException(s"unknown workload $workload"))
    Oracle.selfTest()

    // session start counts as set-up, from the moment the JVM started
    val jvmStartMs = ProcessHandle.current().info().startInstant().get().toEpochMilli
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", (2 * nproc).toString)
      .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val meter = if (trace) Some(new Meter) else None
    meter.foreach(spark.sparkContext.addSparkListener)
    val ctx = new Ctx(spark, seed, seconds, new Tracer(trace), meter, work, nproc)
    ctx.setupNs = (System.currentTimeMillis() - jvmStartMs) * 1000000L
    System.err.println(f"[setup] session start: ${ctx.setupNs / 1e9}%.2f s")

    try {
      run(ctx)
      val o = ctx.out
      if (!trace) o.put("setup_s", ctx.setupNs / 1e9, "s")
      else {
        ctx.drain()
        ctx.tracer.write(s"$work/../traces/$workload-seed$seed.spans.jsonl")
        // a layer none of whose calls ran in this workload spent no time
        val self = ctx.tracer.selfSeconds
        Seq("analysis", "codec", "index", "search", "command", "ops").foreach { l =>
          o.put(s"$l.self_s", self.getOrElse(l, 0.0), "s")
        }
        o.put("trace.spans", ctx.tracer.all.size.toDouble, "count")
      }
      o.failReasons.foreach { case (r, n) => System.err.println(s"[perfbench] failed x$n: $r") }
      o.errors.take(20).foreach(e => System.err.println(s"[perfbench] incorrect: $e"))
      println(json(o, o.errors.isEmpty))
    } finally spark.stop()
  }
}
