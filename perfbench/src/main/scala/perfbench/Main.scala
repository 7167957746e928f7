package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** Benchmark entry point: one workload, one seed, one process.
  *
  * {{{
  * perfbench.Main --workload <pos_pipeline|query_light|query_heavy>
  *   --seed <n> --seconds <s> --trace <0|1> --work <dir> --cache <dir>
  *   --out <record.json> [--record-digests <file>]
  * }}}
  *
  * Writes one JSON record (metrics, checks, the per-operation ledger)
  * to `--out`. `perfbench/run.py` builds the classpath, launches this
  * main and prints the result line from the record.
  */
object Main {
  /** Local cores of the one executor; fixed so task counts (and every
    * deterministic counter) are the same on any host.
    */
  val Cores = 4

  final case class Opts(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: String, cache: String, out: String, recordDigests: Option[String],
      digests: String)

  def parse(args: Array[String]): Opts = {
    val kv = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", need("work"), need("cache"), need("out"),
      kv.get("record-digests"), kv.getOrElse("digests", ""))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val workload: Run => Unit = o.workload match {
      case "pos_pipeline" => Pipeline.run
      case "query_light" => QueryWorkload.run(QueryWorkload.Light, QueryWorkload.LightSf)
      case "query_heavy" => QueryWorkload.run(QueryWorkload.Heavy, QueryWorkload.HeavySf)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.createDirectories(Paths.get(o.work))
    val t0 = System.nanoTime()
    val spark = GraftSession.builder(s"local[$Cores]", Cores)
      .appName(s"perfbench-${o.workload}")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val run = new Run(spark, o)
    run.setup("GraftSession.session_ms") = (System.nanoTime() - t0) / 1e6
    try workload(run)
    finally spark.stop()
    Files.writeString(Paths.get(o.out), Json.render(run.record()) + "\n")
  }
}

/** State of one benchmark run: the session, the optional tracer, the
  * counters of attempted and failed operations, the correctness checks
  * and the metrics the workload reports.
  */
final class Run(val spark: SparkSession, val opts: Main.Opts) {
  val tracer: Option[Tracer] =
    if (opts.trace) Some(new Tracer).map { t => t.attach(spark); t } else None

  val setup = mutable.LinkedHashMap[String, Double]()
  val e2e = mutable.LinkedHashMap[String, Double]()
  val layers = mutable.LinkedHashMap[String, Double]()
  /** Layer metrics of a single workload, kept in the record only. */
  val workloadLayers = mutable.LinkedHashMap[String, Double]()
  val ops = mutable.ArrayBuffer[Map[String, Any]]()
  val checks = mutable.ArrayBuffer[Map[String, Any]]()
  val findings = mutable.ArrayBuffer[String]()
  val extra = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  /** Set when the first timed operation starts. */
  var timedFrom: Long = 0L

  def nowMs: Long = System.currentTimeMillis()

  /** Wall ms since the JVM started. */
  def sinceStartMs: Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime).toDouble

  def startTiming(): Unit = {
    setup("setup_ms") = sinceStartMs - setup.getOrElse("inputs_ms", 0.0)
    e2e("setup_s") = setup("setup_ms") / 1e3
    timedFrom = System.nanoTime()
  }

  def timedSeconds: Double = (System.nanoTime() - timedFrom) / 1e9

  /** Run one operation: counts it, and counts an exception as a failed
    * operation instead of ending the run.
    */
  def attempt[T](what: String)(f: => T): Option[T] = {
    attempted += 1
    try Some(f)
    catch {
      case e: Exception =>
        failed += 1
        findings += s"$what failed: ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" ")
        None
    }
  }

  def check(name: String, ok: Boolean, detail: String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += Json.obj("name" -> name, "ok" -> ok, "detail" -> detail)
  }

  /** Counters of `[t0, t1]`, all zero when not tracing. */
  def window(t0: Long, t1: Long): Map[String, Double] = tracer match {
    case Some(t) => t.drain(spark); t.window(t0, t1)
    case None => Map.empty
  }

  /** Jobs per call site of `[t0, t1]`, empty when not tracing. */
  def callsites(t0: Long, t1: Long): Map[String, Int] =
    tracer.fold(Map.empty[String, Int])(_.callsites(t0, t1))

  /** Between operations: drop cached frames, RDD pins and shuffle files
    * so each operation starts from the same state.
    */
  def hygiene(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator
      .foreach(_.unpersist(blocking = true))
    // a query can return while a job it no longer needs (a cancelled
    // broadcast, say) is still winding down; shuffle files may only be
    // dropped once no job runs
    val sc = spark.sparkContext
    val deadline = System.nanoTime() + 5000000000L
    while (sc.statusTracker.getActiveJobIds().nonEmpty && System.nanoTime() < deadline)
      Thread.sleep(10)
    if (sc.statusTracker.getActiveJobIds().isEmpty)
      org.apache.spark.GraftCoreShims.dropAllShuffles(sc)
  }

  /** Peak resident memory of this JVM (`VmHWM`), in MB. */
  def peakRssMb: Double = {
    val status = Paths.get("/proc/self/status")
    if (!Files.exists(status)) Double.NaN
    else Files.readAllLines(status).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  def record(): Map[String, Any] = Json.obj(
    "workload" -> opts.workload, "seed" -> opts.seed,
    "seconds" -> opts.seconds, "trace" -> opts.trace,
    "correct" -> (failed == 0L), "attempted" -> attempted, "failed" -> failed,
    "e2e" -> e2e, "layers" -> layers, "workload_layers" -> workloadLayers,
    "setup" -> setup, "extra" -> extra, "checks" -> checks,
    "findings" -> findings, "ops" -> ops)
}

object Stats {
  /** The median; of an even number of samples, the lower middle one.
    * Noise on a shared host only ever adds time, so of the two middle
    * samples the faster is the better estimate (with two samples, the
    * one a burst of contention did not hit).
    */
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    xs.sorted.apply((xs.size - 1) / 2)
  }

  /** The tail percentile of `xs`: the highest whole percentile `p`
    * whose nearest-rank value still has at least `beyond` samples
    * above it. `None` when there are too few samples for any.
    */
  def tail(xs: Seq[Double], beyond: Int = 10): Option[(Int, Double)] = {
    val n = xs.size
    if (n <= beyond) None
    else {
      val p = (100L * (n - beyond) / n).toInt
      val rank = math.max(1, math.ceil(p * n / 100.0).toInt)
      Some(p -> xs.sorted.apply(rank - 1))
    }
  }

  /** Per-key mean of a sequence of counter maps. */
  def meanOf(maps: Seq[Map[String, Double]]): Map[String, Double] =
    if (maps.isEmpty) Map.empty
    else maps.flatMap(_.keys).distinct.map { k =>
      k -> maps.map(_.getOrElse(k, 0.0)).sum / maps.size
    }.toMap
}
