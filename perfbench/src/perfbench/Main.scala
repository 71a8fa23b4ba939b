package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a run shares between the run loop and a workload. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val seed: Long,
                val dir: String) {
  /** Per-round layer figures (divided by the number of rounds at the end). */
  val perRound = new Acc
  /** Layer figures that are already rates, ratios or end-state sizes. */
  val fixed = new Acc
  /** The workload's own user-facing figures (rates, pass time, disk). */
  val figures = new Acc
  val errors: mutable.ArrayBuffer[String] = mutable.ArrayBuffer()
  var attempted = 0L
  var failed = 0L
  /** Seconds spent inside measured operations, and how many completed. */
  var opSeconds = 0.0
  var opsDone = 0L
  var measuring = false
  /** Wall seconds of the last [[op]]. */
  var lastOpS = 0.0

  /** One public call into the program: timed (and traced), counted
    * against `attempted`, and with a failure counted rather than thrown.
    * `layer` names the per-layer time/count pair it adds to. */
  def op[T](layer: String, module: String)(body: => T): Option[T] = {
    if (measuring) attempted += 1
    try {
      val (v, s) = tracer.span(layer, module)(body)
      lastOpS = s
      if (measuring) {
        opSeconds += s; opsDone += 1
        perRound.add(s"${layer}_s", s); perRound.add(s"${layer}_n", 1)
      }
      Some(v)
    } catch {
      case e: Throwable =>
        if (measuring) failed += 1
        fail(s"$layer failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
        None
    }
  }

  /** A correctness check that did not hold. */
  def fail(msg: String): Unit = {
    System.err.println(s"[perfbench] $msg")
    errors += msg
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)
}

/** One workload: `setup` builds inputs and warms up (counted in
  * `setup_s`), `round` is one whole round of the closed loop, `finish`
  * checks outputs outside the measured time and records end-state
  * figures. */
trait Workload {
  def setup(ctx: Ctx): Unit
  def round(ctx: Ctx, index: Int): Unit
  def finish(ctx: Ctx, roundTimes: Seq[Double]): Unit
  /** Rounds a run measures however short `--seconds` is. */
  def minRounds: Int = 1
}

/** Entry point, one mode per first argument:
  *   - `run <workload> <seed> <seconds> <trace 0|1> <outDir> <t0Ms>`: one
  *     run; writes `<outDir>/result.json` with every figure it produced
  *     (`perfbench/run.py` picks the metrics it reports). `t0Ms` is when
  *     the benchmark process started, the origin of `setup_s`.
  *   - `selftest <dir>`: the checks' self-tests ([[SelfTest]]). */
object Main {

  def session(dir: String, cores: Int): SparkSession = {
    val s = graft.core.GraftSession.tune(
      SparkSession.builder()
        .master(s"local[$cores]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.local.dir", s"$dir/spark-local")
        .config("spark.sql.warehouse.dir", s"$dir/spark-warehouse")
        .config("spark.sql.streaming.checkpointLocation", s"$dir/stream-ckpt"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private var origin = System.currentTimeMillis()

  /** A progress line on standard error, in seconds since the run's origin. */
  def note(msg: String): Unit =
    System.err.println(f"[perfbench ${(System.currentTimeMillis() - origin) / 1e3}%7.2f s] $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def dirBytes(path: String): Long = {
    val p = Paths.get(path)
    if (!Files.exists(p)) 0L
    else {
      val st = Files.walk(p)
      try st.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally st.close()
    }
  }

  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder()).forEach(Files.deleteIfExists(_))
      finally st.close()
    }
  }

  val Cores: Int = math.min(4, Runtime.getRuntime.availableProcessors())

  def workload(name: String): Workload = name match {
    case "ingest" => new Ingest
    case "analytics" => new Analytics
    case "table" => new Table
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def main(args: Array[String]): Unit = args.head match {
    case "run" =>
      val Array(_, w, seed, seconds, trace, outDir, t0Ms) = args
      origin = t0Ms.toLong
      run(w, seed.toLong, seconds.toDouble, trace == "1", outDir)
    case "selftest" => System.exit(SelfTest.run(args(1)))
    case other => throw new IllegalArgumentException(s"unknown mode $other")
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, outDir: String): Unit = {
    Files.createDirectories(Paths.get(outDir))
    val w = Main.workload(workload)
    val spark = session(outDir, Cores)
    note("session up")
    val tracer = new Tracer(spark, trace, s"$workload-$seed-${ProcessHandle.current().pid()}")
    val ctx = new Ctx(spark, tracer, seed, outDir)

    w.setup(ctx)
    tracer.layers.foreach(_ => org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext))
    val w0 = System.currentTimeMillis()
    val setupS = (w0 - origin) / 1e3
    note("setup done")
    ctx.measuring = true
    val roundTimes = mutable.ArrayBuffer[Double]()
    val t0 = System.nanoTime()
    var rounds = 0
    while (rounds < w.minRounds || (System.nanoTime() - t0) / 1e9 < seconds) {
      val (_, s) = tracer.span(s"$workload.round", "bench")(w.round(ctx, rounds))
      roundTimes += s
      rounds += 1
      note(f"round $rounds: $s%.3f s")
    }
    val w1 = System.currentTimeMillis()
    ctx.measuring = false
    val engine = tracer.layers.map { l =>
      org.apache.spark.PerfbenchAccess.drainListenerBus(spark.sparkContext)
      l.window(w0, w1)
    }.getOrElse(Map.empty)
    w.finish(ctx, roundTimes.toSeq)
    note("checked")

    val metrics = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "round_s" -> median(roundTimes.toSeq),
      "ops_per_s" -> ctx.opsDone / math.max(ctx.opSeconds, 1e-9))
    ctx.figures.values.foreach { case (k, v) => metrics(k) = v }
    engine.foreach { case (k, v) => metrics(k) = v / rounds }
    ctx.perRound.values.foreach { case (k, v) => metrics(k) = v / rounds }
    ctx.fixed.values.foreach { case (k, v) => metrics(k) = v }

    if (trace) tracer.write(s"$outDir/spans.json", workload, seed)
    val res = new StringBuilder
    res ++= s"""{"correct": ${ctx.errors.isEmpty}, "attempted": ${ctx.attempted}, "failed": ${ctx.failed},\n"""
    res ++= s""" "rounds": $rounds, "round_times_s": ${roundTimes.map(Json.num).mkString("[", ", ", "]")},\n"""
    res ++= s""" "errors": ${ctx.errors.take(20).map(Json.str).mkString("[", ", ", "]")},\n"""
    res ++= s""" "metrics": ${Json.obj(metrics.toSeq)}}\n"""
    Files.writeString(Paths.get(s"$outDir/result.json"), res.toString)
    spark.stop()
  }
}
