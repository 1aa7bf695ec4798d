package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.util.Try
import org.apache.spark.sql.SparkSession

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else if (v == math.rint(v) &&
      math.abs(v) < 1e15) v.toLong.toString else v.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

final case class Args(workload: String = "", seed: Long = 1L,
    seconds: Int = 10, trace: Boolean = false, work: String = "",
    reports: String = "", commit: String = "unknown",
    selftest: Boolean = false)

object Args {
  def parse(a: Seq[String]): Args = a match {
    case Nil => Args()
    case "--workload" :: v :: t => parse(t).copy(workload = v)
    case "--seed" :: v :: t => parse(t).copy(seed = v.toLong)
    case "--seconds" :: v :: t => parse(t).copy(seconds = v.toInt)
    case "--trace" :: v :: t => parse(t).copy(trace = v == "1")
    case "--work" :: v :: t => parse(t).copy(work = v)
    case "--reports" :: v :: t => parse(t).copy(reports = v)
    case "--commit" :: v :: t => parse(t).copy(commit = v)
    case "--selftest" :: t => parse(t).copy(selftest = true)
    case x :: _ => throw new IllegalArgumentException(s"unknown argument $x")
  }
}

/** Post-GC heap peak of the harness JVM: after each timed call (untimed)
  * a full collection runs and the heap it leaves is sampled; the peak is
  * the largest sample, i.e. the most heap a file leaves reachable. */
final class HeapPeak {
  private val bean = ManagementFactory.getMemoryMXBean
  private var peak = 0L
  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, bean.getHeapMemoryUsage.getUsed)
  }
  def mb: Double = peak / 1048576.0
}

/** The benchmark run: set up `Setups` times (median = `setup_s`), then a
  * closed loop of timed sweeps for `--seconds`, then the manifest check.
  * Prints one JSON line last; exits 1 when any check failed. */
object Main {

  /** Set-ups per run. The first runs on a cold JVM, the second on a warm
    * one; a third would not fit the run budget. */
  val Setups = 2

  def session(ws: Path, cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .appName("perfbench")
      .master(s"local[$cores]")
      // graft.Main's defaults, which is what a user of the queue gets
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", ws.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", ws.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(f => Files.deleteIfExists(f))
    finally s.close()
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def loadavg: String =
    Try(new String(Files.readAllBytes(Path.of("/proc/loadavg")), UTF_8)
      .split(" ").take(3).mkString(" ")).getOrElse("unknown")

  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv.toList)
    if (a.selftest) sys.exit(SelfTest.run(a))
    require(Workload.Names.contains(a.workload),
      s"--workload must be one of ${Workload.Names.mkString(", ")}")
    val code =
      try run(a)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run aborted: $e")
          e.printStackTrace()
          2
      }
    sys.exit(code)
  }

  def run(a: Args): Int = {
    val nproc = Runtime.getRuntime.availableProcessors()
    val cores = math.min(4, nproc)
    val load0 = loadavg
    val root = Path.of(a.work)
    val heap = new HeapPeak
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    val setupPhases = mutable.ArrayBuffer.empty[Seq[(String, Double)]]
    var spark: SparkSession = null
    var wl: Workload = null
    var tracer: Tracer = null
    var ws: Path = null

    // ---- set-up, `Setups` times; the last one's state is measured
    for (r <- 1 to Setups) {
      if (wl != null) { wl.teardown(); spark.stop(); deleteTree(ws) }
      ws = Files.createDirectories(root.resolve(s"setup$r"))
      val t0 = System.nanoTime()
      spark = session(ws, cores)
      val bringUp = (System.nanoTime() - t0) / 1e9
      // only the measured set-up carries listeners
      tracer = new Tracer(a.trace && r == Setups)
      tracer.attach(spark)
      wl = Workload(a.workload, spark, ws, a.seed, tracer)
      wl.setup()
      setupTimes += (System.nanoTime() - t0) / 1e9
      setupPhases += (("session_bring_up" -> bringUp) +: wl.phases.toSeq)
      System.err.println(f"[perfbench] setup $r: ${setupTimes.last}%.3f s " +
        setupPhases.last.map { case (n, v) => f"$n=$v%.2f" }.mkString(" "))
    }

    // ---- timed closed loop
    val lat = mutable.ArrayBuffer.empty[Double]
    val sweeps = mutable.ArrayBuffer.empty[(Int, Double, SweepOutcome)]
    var rows = 0L
    var failed = 0
    val loop0 = System.nanoTime()
    var k = 1
    while (k == 1 || (System.nanoTime() - loop0) / 1e9 < a.seconds) {
      wl.prepare(k)
      tracer.sweep = k
      val t0 = System.nanoTime()
      val res = Try(wl.call(k))
      val dt = (System.nanoTime() - t0) / 1e9
      tracer.sweep = 0
      heap.sample()
      val o = wl.outcome(k, res)
      lat += dt
      sweeps += ((k, dt, o))
      if (o.ok) rows += o.rows
      else {
        failed += 1
        System.err.println(s"[perfbench] sweep $k FAILED: ${o.note}")
      }
      k += 1
    }

    // ---- leak counters, then the manifest check
    val persisted = spark.sparkContext.getPersistentRDDs.size
    val cachedPlans = cachedPlanCount(spark)
    tracer.drain()
    val errs = Try(wl.check()).fold(e => Seq(s"check threw: $e"), identity)
    errs.foreach(e => System.err.println(s"[perfbench] CHECK FAILED: $e"))
    if (errs.nonEmpty) failed += 1
    val attempted = lat.size + 1

    val wall = lat.sum
    val sorted = lat.sorted
    val (tail, tailPct) =
      if (sorted.size > 10) (sorted(sorted.size - 11),
        100.0 * (sorted.size - 10) / sorted.size)
      else (sorted.last, 100.0)
    val e2e = Seq(
      ("setup_s", median(setupTimes.toSeq), "s"),
      ("rows_per_s", rows / wall, "1/s"),
      ("file_p50_s", median(lat.toSeq), "s"),
      ("file_tail_s", tail, "s"),
      ("peak_heap_mb", heap.mb, "MB"),
      ("ok_frac", 1.0 - failed.toDouble / attempted, "ratio"))
    val layers = Layers.compute(tracer, sweeps.toSeq, wl.endCounts(),
      cores, persisted, cachedPlans)

    val env = Seq(
      "workload" -> Json.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> a.trace.toString,
      "master" -> Json.str(spark.sparkContext.master),
      "default_parallelism" -> spark.sparkContext.defaultParallelism.toString,
      "nproc" -> nproc.toString, "loadavg_start" -> Json.str(load0),
      "max_heap_mb" -> Json.num(Runtime.getRuntime.maxMemory / 1048576.0),
      "commit" -> Json.str(a.commit),
      "spark_version" -> Json.str(spark.version),
      "setup_s_each" -> setupTimes.map(Json.num).mkString("[", ", ", "]"),
      "setup_phases_s" -> setupPhases.map(ps => Json.obj(ps.map {
        case (n, v) => n -> Json.num(v) })).mkString("[", ", ", "]"),
      "file_latencies_s" -> lat.map(Json.num).mkString("[", ", ", "]"),
      "file_tail_percentile" -> Json.num(tailPct),
      "file_samples" -> lat.size.toString,
      "timed_wall_s" -> Json.num(wall),
      "persisted_rdds_end" -> persisted.toString,
      "cached_plans_end" -> cachedPlans.toString,
      "check_errors" -> errs.map(Json.str).mkString("[", ", ", "]"))
    val metricsOut = if (a.trace) layers else e2e
    def metricsJson(ms: Seq[(String, Double, String)]): String =
      Json.obj(ms.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u))) })

    if (a.reports.nonEmpty) {
      val dir = Files.createDirectories(Path.of(a.reports))
      val name = s"${a.workload}-seed${a.seed}-trace${if (a.trace) 1 else 0}"
      val report = Json.obj(Seq("env" -> Json.obj(env),
        "end_to_end" -> metricsJson(e2e), "per_layer" -> metricsJson(layers)) ++
        (if (a.trace) Seq("spans" -> tracer.json) else Nil))
      Files.write(dir.resolve(s"$name.json"), report.getBytes(UTF_8))
    }
    System.err.println(s"[perfbench] env ${Json.obj(env)}")
    System.err.println(f"[perfbench] ${lat.size} files, tail = p$tailPct%.1f " +
      s"(${math.min(10, lat.size - 1)} samples beyond it)")

    wl.teardown()
    spark.stop()
    deleteTree(root)
    val correct = errs.isEmpty && failed == 0
    println(Json.obj(Seq("correct" -> correct.toString,
      "attempted" -> attempted.toString, "failed" -> failed.toString,
      "metrics" -> metricsJson(metricsOut))))
    if (correct) 0 else 1
  }

  /** Entries in the session's CacheManager (no public accessor). */
  def cachedPlanCount(spark: SparkSession): Int = Try {
    val cm = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    val m = cm.getClass.getDeclaredMethod("cachedData")
    m.setAccessible(true)
    m.invoke(cm).asInstanceOf[scala.collection.Seq[_]].size
  }.getOrElse(-1)
}
