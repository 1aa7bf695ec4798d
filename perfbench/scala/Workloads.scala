package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.sql.DriverManager
import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.{Row, SparkSession}
import graft.jobs.{CorpusKnobs, CorpusStreamJob, IncrementalCorpusJob, JobRunner}
import graft.sink.{Catalog, JdbcSink}

/** What one timed call did: input rows it carried, whether it succeeded,
  * and workload counts the per-layer table needs. */
final case class SweepOutcome(rows: Long, ok: Boolean, note: String,
    counts: Map[String, Double] = Map.empty)

/** A closed-loop workload: one client drops the next input only after the
  * previous call returned. `setup` builds a fresh workspace, pre-lands and
  * runs the warm-up sweep; `prepare(k)` drops input k (untimed);
  * `call(k)` is the timed call; `check` compares the end state with the
  * manifest the generator simulated. */
abstract class Workload(val spark: SparkSession, val ws: Path,
    val tracer: Tracer) {
  def setup(): Unit
  def prepare(k: Int): Unit
  /** The timed call into the program. */
  def call(k: Int): Any
  /** Judge the call's result (untimed). */
  def outcome(k: Int, result: Try[Any]): SweepOutcome
  def check(): Seq[String]
  def teardown(): Unit = ()
  /** Extra per-run numbers for the report (e.g. corpus storage). */
  def endCounts(): Map[String, Double] = Map.empty

  protected def dir(name: String): Path =
    Files.createDirectories(ws.resolve(name))

  /** Set-up phase timings, in order, for the run report. */
  val phases = mutable.ArrayBuffer.empty[(String, Double)]
  protected def phase[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally phases += name -> (System.nanoTime() - t0) / 1e9
  }

  /** Prepare, call and judge sweep k, untimed (set-up's warm-up). */
  protected def warmUp(k: Int): Unit = {
    phase("generate_warmup_input")(prepare(k))
    val o = phase("warmup_sweep")(outcome(k, Try(call(k))))
    require(o.ok, s"warm-up sweep failed: ${o.note}")
  }
}

object Workload {
  val Names: Seq[String] = Seq("sensor_queue", "sensor_stats", "corpus_stream")

  def apply(name: String, spark: SparkSession, ws: Path, seed: Long,
      tracer: Tracer): Workload = name match {
    case "sensor_queue" => new SensorWorkload(spark, ws, seed, tracer,
      stats = false)
    case "sensor_stats" => new SensorWorkload(spark, ws, seed, tracer,
      stats = true)
    case "corpus_stream" => new CorpusWorkload(spark, ws, seed, tracer)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (known: ${Names.mkString(", ")})")
  }
}

/** `sensor_queue` and `sensor_stats`: the reference's job shape (PK
  * `DateTime,Sensor_id`, `Dedupe: last`) upserting into one table of an
  * embedded Derby datastore, driven through `JobRunner.runJobFile`.
  *
  *  - sensor_queue: each sweep drops one 5,000-row file; no stats. Its
  *    set-up runs four warm-up sweeps: its files are cheap and the JIT
  *    needs them.
  *  - sensor_stats: setup pre-lands a 12,000-row file; each sweep drops
  *    one 2,000-row file whose job also asks for `descriptive`, `mode` and
  *    `H` resample stats over the accumulated table. Its files carry no
  *    empty fields: `Stats.modeAll` counts null as a value, pandas does
  *    not, and the mode-row check follows pandas. */
final class SensorWorkload(spark: SparkSession, ws: Path, seed: Long,
    tracer: Tracer, stats: Boolean) extends Workload(spark, ws, tracer) {

  private val preland = 12000
  private val perFile = if (stats) 2000 else 5000
  private val warmUps = if (stats) 1 else 4
  // sensor_stats: file 0 is the pre-landed table, sweep k drops file k+1
  private val files = new Gen.SensorFiles(seed, if (stats) 11 else 10,
    k => if (stats && k == 0) preland else perFile, sensors = 40,
    dupFrac = 0.25, emptyFrac = if (stats) 0.0 else 0.03)
  private val expected = new Gen.SensorState

  private val dbName = s"perfbench_${java.util.UUID.randomUUID().toString.take(8)}"
  val url = s"jdbc:derby:memory:$dbName;create=true"
  private val sink: JdbcSink =
    if (tracer.on) new TracedSink(url, tracer) else JdbcSink(url)
  private val table = new Catalog(sink).tableName("bench", "iot", "air-quality")

  private val incoming = dir("incoming")
  private val prelandDir = dir("preland")
  private val processed = dir("processed")
  private val problems = dir("problems")
  private val staged = dir("staged")
  private val runner: JobRunner = {
    val (in, pr, pb) = (incoming.toString, processed.toString,
      problems.toString)
    if (tracer.on) new JobRunner(spark, sink, in, pr, pb) {
      override val catalog: Catalog = new TracedCatalog(sink, tracer)
    } else new JobRunner(spark, sink, in, pr, pb)
  }

  private def jobFile(name: String, glob: Path, withStats: Boolean): Path = {
    val statsJson = if (!withStats) "" else
      """, "Stats": [{"Kind": "descriptive"}, {"Kind": "mode"},""" +
        """ {"Kind": "H", "GroupBy": "Sensor_id", "DropColumns": "LAT,LONG"}]"""
    val json = s"""{"InputFile": "${glob.resolve("*.csv")}", """ +
      """"TargetOrg": "bench", "TargetPackage": "iot", """ +
      """"TargetResource": "air-quality", "PrimaryKey": "DateTime,Sensor_id", """ +
      s""""Dedupe": "last", "Truncate": false$statsJson}"""
    Files.write(ws.resolve(s"$name-job.json"), json.getBytes(UTF_8))
  }
  private val sweepJob = jobFile("sensor", incoming, stats)
  private val prelandJob = jobFile("preland", prelandDir, withStats = false)

  /** Render file k into the staging dir (untimed), then move it into the
    * watched directory the way a producer drops a finished file. */
  private def drop(k: Int, into: Path): Unit = {
    val rows = files.rows(k)
    val bytes = files.csv(rows).getBytes(UTF_8)
    val stage = staged.resolve(f"sensor_$k%05d.csv")
    Files.write(stage, bytes)
    Files.move(stage, into.resolve(stage.getFileName),
      StandardCopyOption.ATOMIC_MOVE)
    expected(rows)
  }

  def setup(): Unit = {
    if (stats) {
      phase("generate_preland_input")(drop(0, prelandDir))
      val out = phase("preland")(runner.runJobFile(prelandJob))
      require(judge(out).ok, s"pre-landing failed: $out")
    }
    (1 - warmUps to 0).foreach(warmUp)
  }

  /** Warm-up sweeps are k ≤ 0; timed sweeps continue from k = 1. */
  private def fileIndex(k: Int): Int = k + warmUps - (if (stats) 0 else 1)

  def prepare(k: Int): Unit = drop(fileIndex(k), incoming)

  def call(k: Int): Any = tracer.span("jobs.runJobFile", "jobs") {
    try runner.runJobFile(sweepJob)
    finally sink match {
      case ts: TracedSink => ts.closeStat()
      case _ =>
    }
  }

  def outcome(k: Int, result: Try[Any]): SweepOutcome = result match {
    case Success(out: Either[_, _]) =>
      judge(out.asInstanceOf[Either[String, runner.Outcome]])
    case other => SweepOutcome(0, ok = false, other.toString)
  }

  private def judge(out: Either[String, runner.Outcome]): SweepOutcome =
    out match {
      case Right(r: runner.JobResult) if r.files.size == 1 &&
          r.files.forall(_.rows >= 0) =>
        val f = r.files.head
        SweepOutcome(f.rows + f.dupes, ok = true, "", Map(
          "rows_in" -> (f.rows + f.dupes).toDouble,
          "rows_out" -> f.rows.toDouble,
          "table_rows_read" -> (if (stats) expected.size.toDouble else 0.0)))
      case Right(r: runner.JobResult) =>
        SweepOutcome(0, ok = false, s"files=${r.files}")
      case other => SweepOutcome(0, ok = false, other.toString)
    }

  def check(): Seq[String] = {
    val inProblems = Files.list(problems)
    try SensorCheck.check(url, table, expected, stats, inProblems.count())
    finally inProblems.close()
  }

  override def teardown(): Unit = SensorCheck.dropDb(dbName)
}

object SensorCheck {

  def query[T](url: String, sql: String)(f: java.sql.ResultSet => T): T = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      try f(rs) finally rs.close()
    } finally c.close()
  }

  def count(url: String, table: String): Long =
    query(url, s"""SELECT COUNT(*) FROM "$table"""") { rs => rs.next(); rs.getLong(1) }

  /** Order-insensitive checksum of the landed data table, rendered the
    * same way [[Gen.SensorState.checksum]] renders the expected rows. */
  def checksum(url: String, table: String): Long = query(url,
    s"""SELECT "DateTime", "Sensor_id", ${Gen.ValueCols.map(c => s""""$c"""")
      .mkString(", ")} FROM "$table"""") { rs =>
    var sum = 0L
    while (rs.next()) {
      val vals = Gen.ValueCols.indices.map { i =>
        val v = rs.getDouble(3 + i)
        if (rs.wasNull()) None else Some(v)
      }
      sum += Gen.fnv64(Gen.canonical(
        rs.getTimestamp(1).toInstant.getEpochSecond, rs.getString(2), vals))
    }
    sum
  }

  def check(url: String, table: String, expected: Gen.SensorState,
      stats: Boolean, problemFiles: Long): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    def eq(what: String, got: Long, want: Long): Unit =
      if (got != want) errs += s"$what: got $got, want $want"
    eq("files in problems/", problemFiles, 0)
    eq("sink distinct-PK rows", count(url, table), expected.size)
    eq("sink last-wins checksum", checksum(url, table), expected.checksum)
    if (stats) {
      eq("descriptive stat rows", count(url, s"${table}__descriptive"), 11)
      eq("mode stat rows", count(url, s"${table}__mode"), expected.modeRows)
      eq("H resample rows", count(url, s"${table}__h"), expected.hourBuckets)
    }
    errs.toSeq
  }

  def dropDb(name: String): Unit =
    try DriverManager.getConnection(s"jdbc:derby:memory:$name;drop=true")
    catch { case _: java.sql.SQLException => () } // 08006 = dropped
}

/** `corpus_stream`: the LLM corpus path, no JDBC. Setup bootstraps a
  * 600-doc generated corpus; each sweep drops one 150-doc delta parquet
  * into the landing dir and runs the resident stream job
  * (`CorpusStreamJob.run`, default `CorpusKnobs`). Each delta plants exact
  * copies and near-dup mutations of landed docs, within-delta exact and
  * near copies, docs curation drops, and fresh docs. */
final class CorpusWorkload(spark: SparkSession, ws: Path, seed: Long,
    tracer: Tracer) extends Workload(spark, ws, tracer) {

  private val docs = new Gen.CorpusDocs(seed, base = 600, deltaSize = 150)
  private val knobs = CorpusKnobs()
  private val corpus = ws.resolve("corpus").toString
  private val stateRoot = ws.resolve("state").toString
  private val ckpt = ws.resolve("checkpoint").toString
  private val landing = dir("landing")
  private val staged = dir("staged")
  private val expects = mutable.ArrayBuffer.empty[(Int, Gen.DeltaExpect)]
  private val reports = mutable.ArrayBuffer.empty[IncrementalCorpusJob.DeltaReport]
  private var bootKept = 0L

  def setup(): Unit = {
    val base = dir("base")
    phase("generate_bootstrap_input")(CorpusWorkload.writeDocs(spark,
      docs.bootstrap, base.resolve("documents.parquet").toString))
    bootKept = phase("bootstrap")(IncrementalCorpusJob.bootstrap(spark,
      base.toString, corpus, s"$stateRoot/snap=0").nKept)
    warmUp(0)
  }

  /** Delta k+1 lands as generation k+1; the file is written to a staging
    * dir and moved into the landing dir as one finished parquet file. */
  def prepare(k: Int): Unit = {
    val gen = k + 1
    val delta = docs.delta(gen)
    val out = staged.resolve(s"delta_$gen").toString
    CorpusWorkload.writeDocs(spark, delta, out)
    Files.move(CorpusWorkload.part(out),
      landing.resolve(f"delta_$gen%05d.parquet"),
      StandardCopyOption.ATOMIC_MOVE)
    expects += gen -> Gen.expect(delta)
  }

  private var callStart = 0L

  def call(k: Int): Any = {
    callStart = tracer.now
    tracer.span("jobs.CorpusStreamJob.run", "jobs") {
      CorpusStreamJob.run(spark, landing.toString, corpus, stateRoot, ckpt,
        knobs)
    }
  }

  def outcome(k: Int, result: Try[Any]): SweepOutcome = {
    val gen = k + 1
    val exp = expects.find(_._1 == gen).map(_._2).get
    result match {
      case Success(Seq(r: IncrementalCorpusJob.DeltaReport))
          if r.generation == gen =>
        reports += r
        val errs = CorpusCheck.delta(r, exp)
        val stream = tracer.claimQueryRun().map { case (startMs, prog) =>
          def sum(key: String) = prog.map(_.getOrElse(key, 0L)).sum / 1e3
          Map("add_batch_s" -> sum("addBatch"),
            "overhead_s" -> (sum("triggerExecution") - sum("addBatch")),
            "start_s" ->
              math.max(0.0, (startMs * 1000000L - callStart) / 1e9))
        }.getOrElse(Map.empty)
        SweepOutcome(exp.nDelta, errs.isEmpty, errs.mkString("; "), Map(
          "n_delta" -> r.nDelta.toDouble, "n_kept" -> r.nKept.toDouble,
          "dup_base" -> r.nDupBase.toDouble,
          "dup_delta" -> r.nDupDelta.toDouble,
          "gen_bytes" -> CorpusCheck.bytes(Path.of(r.genDir)).toDouble) ++
          stream)
      case Success(other) =>
        SweepOutcome(0, ok = false, s"generation $gen: reports $other")
      case Failure(e) => SweepOutcome(0, ok = false, e.toString)
    }
  }

  def check(): Seq[String] =
    CorpusCheck.endState(spark, corpus, stateRoot, bootKept,
      reports.toSeq, expects.toSeq.filter(e => reports.exists(_.generation == e._1)))

  override def endCounts(): Map[String, Double] = {
    val landedDocs = bootKept + reports.map(_.nKept).sum
    Map("state_bytes_per_doc" ->
      CorpusCheck.bytes(Path.of(stateRoot)).toDouble / math.max(1L, landedDocs))
  }
}

object CorpusWorkload {
  /** Write docs as one parquet file (a single part) under `out`. */
  def writeDocs(spark: SparkSession, rows: Seq[Gen.Doc], out: String): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map(d => Row(d.id, "en", d.text)), 1),
      CorpusStreamJob.docSchema)
      .write.mode("overwrite").parquet(out)

  def part(out: String): Path = {
    val s = Files.list(Path.of(out))
    try s.filter(_.toString.endsWith(".parquet")).findFirst().get()
    finally s.close()
  }
}

object CorpusCheck {

  def bytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** The funnel of one delta against what the generator planted. */
  def delta(r: IncrementalCorpusJob.DeltaReport,
      e: Gen.DeltaExpect): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    if (r.nDelta != e.nDelta) errs += s"gen ${r.generation} nDelta ${r.nDelta} != ${e.nDelta}"
    if (r.nCurated != e.nCurated)
      errs += s"gen ${r.generation} nCurated ${r.nCurated} != ${e.nCurated}"
    if (r.nCurated - r.nExactFresh < e.exactLandedFloor)
      errs += s"gen ${r.generation} exact dups ${r.nCurated - r.nExactFresh}" +
        s" below planted floor ${e.exactLandedFloor}"
    if (r.nExactFresh != r.nKept + r.nDupBase + r.nDupDelta)
      errs += s"gen ${r.generation} funnel: nExactFresh ${r.nExactFresh} != " +
        s"nKept ${r.nKept} + nDupBase ${r.nDupBase} + nDupDelta ${r.nDupDelta}"
    errs.toSeq
  }

  /** The landed corpus against the reports and the plants: every kept doc
    * is in the corpus exactly once, no planted drop ever lands, an exact
    * copy of a landed doc never lands, and the state chain has one
    * snapshot per generation. */
  def endState(spark: SparkSession, corpus: String, stateRoot: String,
      bootKept: Long, reports: Seq[IncrementalCorpusJob.DeltaReport],
      expects: Seq[(Int, Gen.DeltaExpect)]): Seq[String] = {
    val errs = mutable.ArrayBuffer.empty[String]
    val ids = spark.read.parquet(corpus).select("doc_id").collect()
      .map(_.getLong(0))
    val idSet = ids.toSet
    val want = bootKept + reports.map(_.nKept).sum
    if (ids.length != idSet.size) errs += s"corpus holds ${ids.length - idSet.size} duplicate doc ids"
    if (idSet.size != want) errs += s"corpus docs ${idSet.size} != bootstrap kept $bootKept + delta kept ${want - bootKept}"
    expects.foreach { case (gen, e) =>
      val bad = e.neverLand.filter(idSet)
      if (bad.nonEmpty) errs += s"gen $gen: ${bad.size} planted drops landed"
      val copies = e.landedCopies.filter { case (id, src) =>
        idSet(src) && idSet(id) }
      if (copies.nonEmpty) errs += s"gen $gen: ${copies.size} exact copies of landed docs landed"
    }
    val chain = CorpusStreamJob.chainDirs(spark, stateRoot)
    if (chain.size != 1 + reports.size)
      errs += s"state chain has ${chain.size} snapshots, want ${1 + reports.size}"
    errs.toSeq
  }
}
