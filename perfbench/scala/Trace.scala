package perfbench

import java.time.Instant
import java.util.UUID
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import graft.sink.{Catalog, JdbcSink}

/** One traced interval. Bench-side spans wrap a call into a layer; Spark
  * job spans are opened by the listener and hang under the span that was
  * open on the submitting thread. Times are epoch nanoseconds. */
final class Span(val id: Int, val parent: Int, var name: String,
    val layer: String, val sweep: Int, val start: Long) {
  var end: Long = -1L
  val counts: mutable.Map[String, Double] = mutable.HashMap.empty
  def add(k: String, v: Double): Unit = counts(k) = counts.getOrElse(k, 0.0) + v
  def dur: Double = if (end < start) 0.0 else (end - start) / 1e9
}

/** In-memory span recorder. With `on = false` every call is a plain
  * pass-through, so the untraced run carries no listener and no wrapper.
  * Spans propagate to Spark jobs through a local property, which Spark
  * copies into every job the thread submits (and into threads it starts,
  * such as a streaming query's). */
final class Tracer(val on: Boolean) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Int, Span]
  private var nextId = 0
  private var stack: List[Span] = Nil
  private val owner = Thread.currentThread()
  private val epoch0 = System.currentTimeMillis() * 1000000L
  private val nano0 = System.nanoTime()
  @volatile var sweep: Int = 0
  private var sc: SparkContext = _

  def now: Long = epoch0 + (System.nanoTime() - nano0)

  private def newSpan(parent: Int, name: String, layer: String,
      sweepId: Int, start: Long): Span = synchronized {
    val s = new Span(nextId, parent, name, layer, sweepId, start)
    nextId += 1
    spans += s
    byId(s.id) = s
    s
  }

  def open(name: String, layer: String): Span = {
    val s = newSpan(stack.headOption.map(_.id).getOrElse(-1), name, layer,
      sweep, now)
    stack ::= s
    sc.setLocalProperty(Key, s.id.toString)
    s
  }

  def close(s: Span): Unit = {
    s.end = now
    require(stack.headOption.contains(s), s"span ${s.name} closed out of order")
    stack = stack.tail
    sc.setLocalProperty(Key, stack.headOption.map(_.id.toString).orNull)
  }

  def current: Option[Span] =
    if (Thread.currentThread() eq owner) stack.headOption else None

  /** Wrap `body` in a span — only on the thread that owns the tracer. */
  def span[T](name: String, layer: String)(body: => T): T =
    if (!on || (Thread.currentThread() ne owner)) body
    else {
      val s = open(name, layer)
      try body finally close(s)
    }

  // --------------------------------------------------- listeners (trace on)

  private val jobSpan = mutable.HashMap.empty[Int, Span]
  private val sqlSite = mutable.HashMap.empty[Long, String]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private var jobsStarted = 0
  private var jobsEnded = 0
  private val queryStart = mutable.LinkedHashMap.empty[UUID, Long]
  private val queryProgress =
    mutable.HashMap.empty[UUID, mutable.ArrayBuffer[Map[String, Long]]]
  private val queryDone = mutable.LinkedHashSet.empty[UUID]
  private val queryClaimed = mutable.HashSet.empty[UUID]

  /** Attach to a fresh session (call once per session). */
  def attach(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    if (on) {
      sc.addSparkListener(jobListener)
      spark.streams.addListener(streamListener)
    }
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized {
        jobsStarted += 1
        val pid = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
          .map(_.toInt).getOrElse(-1)
        // jobs a SQL execution submits from other threads (adaptive query
        // stages) carry the call site of the action that started it
        val site = Option(e.properties)
          .flatMap(p => Option(p.getProperty(SqlExecutionKey)))
          .flatMap(id => sqlSite.get(id.toLong))
          .getOrElse(if (e.stageInfos.isEmpty) "unknown"
            else e.stageInfos.maxBy(_.stageId).name)
        val sweepId = byId.get(pid).map(_.sweep).getOrElse(Int.MinValue)
        val s = newSpan(pid, s"spark:$site", layerOf(site), sweepId,
          e.time * 1000000L)
        jobSpan(e.jobId) = s
        e.stageIds.foreach(st => stageJob(st) = e.jobId)
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case x: SparkListenerSQLExecutionStart => Tracer.this.synchronized {
        sqlSite(x.executionId) = programFrame(x.details).getOrElse(x.description)
      }
      case _ =>
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Tracer.this.synchronized {
        jobsEnded += 1
        jobSpan.get(e.jobId).foreach(_.end = e.time * 1000000L)
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val info = e.stageInfo
        for (job <- stageJob.get(info.stageId); s <- jobSpan.get(job)) {
          s.add("stages", 1)
          s.add("tasks", info.numTasks)
          val m = info.taskMetrics
          if (m != null) {
            s.add("cpu_ns", m.executorCpuTime.toDouble)
            s.add("gc_ms", m.jvmGCTime.toDouble)
            s.add("shuffle_write", m.shuffleWriteMetrics.bytesWritten.toDouble)
            s.add("spill", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
            s.add("output_bytes", m.outputMetrics.bytesWritten.toDouble)
          }
          val jdbcNs = info.accumulables.values.collect {
            case a if a.name.exists(JdbcTimeMetrics) =>
              a.value.map(_.toString.toDouble).getOrElse(0.0)
          }.sum
          val hasJdbc = info.accumulables.values
            .exists(_.name.exists(JdbcTimeMetrics))
          if (m != null) {
            if (hasJdbc) s.add("jdbc_rows", m.inputMetrics.recordsRead.toDouble)
            else s.add("file_input_bytes", m.inputMetrics.bytesRead.toDouble)
            s.add("input_bytes", m.inputMetrics.bytesRead.toDouble)
          }
          s.add("jdbc_ns", jdbcNs)
        }
      }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent)
        : Unit = Tracer.this.synchronized {
      queryStart(e.runId) = Instant.parse(e.timestamp).toEpochMilli
    }
    override def onQueryProgress(
        e: StreamingQueryListener.QueryProgressEvent): Unit =
      Tracer.this.synchronized {
        import scala.jdk.CollectionConverters._
        queryProgress.getOrElseUpdate(e.progress.runId,
          mutable.ArrayBuffer.empty) +=
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }
            .toMap
      }
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(
        e: StreamingQueryListener.QueryTerminatedEvent): Unit =
      Tracer.this.synchronized { queryDone += e.runId }
  }

  /** Wait (bounded) until the listener bus has delivered every job end. */
  def drain(timeoutMs: Long = 15000L): Unit = if (on) {
    val deadline = System.currentTimeMillis() + timeoutMs
    var stable = 0
    var last = -1
    while (System.currentTimeMillis() < deadline && stable < 3) {
      val (st, en) = synchronized((jobsStarted, jobsEnded))
      if (st == en && st == last) stable += 1 else stable = 0
      last = st
      Thread.sleep(50)
    }
  }

  /** The streaming query run that terminated since the last claim, with
    * its start time (epoch ms) and per-trigger phase durations. */
  def claimQueryRun(timeoutMs: Long = 5000L)
      : Option[(Long, Seq[Map[String, Long]])] = if (!on) None else {
    val deadline = System.currentTimeMillis() + timeoutMs
    var found: Option[UUID] = None
    while (found.isEmpty && System.currentTimeMillis() < deadline) {
      found = synchronized(queryDone.find(id => !queryClaimed(id)))
      if (found.isEmpty) Thread.sleep(20)
    }
    found.map { id => synchronized {
      queryClaimed += id
      (queryStart.getOrElse(id, 0L),
        queryProgress.getOrElse(id, mutable.ArrayBuffer.empty).toSeq)
    } }
  }

  def all: Seq[Span] = synchronized(spans.toList)

  /** JSON dump of every span, for the trace artifact. */
  def json: String = all.map { s =>
    val counts = s.counts.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":${Json.num(v)}""" }.mkString(",")
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""layer":"${s.layer}","sweep":${s.sweep},"start_ns":${s.start},""" +
      s""""end_ns":${s.end},"counts":{$counts}}"""
  }.mkString("[\n", ",\n", "\n]")
}

object Tracer {
  val Key = "perfbench.span"
  val JdbcTimeMetrics: Set[String] = Set("JDBC query execution time",
    "JDBC remote data fetch and translation time")

  val SqlExecutionKey = "spark.sql.execution.id"

  /** The innermost program frame of a long call site, rendered like a
    * short one (`at CsvIngest.scala:419`). */
  def programFrame(longSite: String): Option[String] =
    longSite.split("\n").map(_.trim).find(_.startsWith("graft."))
      .flatMap(l => "\\(([A-Za-z0-9_]+\\.scala:[0-9]+)\\)".r
        .findFirstMatchIn(l)).map(m => s"at ${m.group(1)}")

  /** The layer a Spark job belongs to, from the program source file whose
    * code submitted it (e.g. `at CsvIngest.scala:419` → ingest). */
  def layerOf(callSite: String): String = {
    val file = "at ([A-Za-z0-9_]+)\\.scala".r.findFirstMatchIn(callSite)
      .map(_.group(1)).getOrElse("")
    file match {
      case "JobRunner" | "CorpusStreamJob" => "jobs"
      case "CsvIngest" => "ingest"
      case "Dedupe" => "dedupe"
      case "JdbcSink" | "Catalog" | "SinkOps" => "sink"
      case "Stats" | "TimeSeries" => "stats"
      case "IncrementalCorpusJob" | "CorpusBuildJob" | "CorpusOps" |
           "TextOps" | "IncrementalDedupe" | "TextDedupe" | "Clusters" =>
        "corpus"
      case _ => "other"
    }
  }
}

/** The sink the traced run hands to `JobRunner`: every public call is a
  * `sink` span. It also cuts the stats phase of a sweep into one span per
  * stat: the phase starts when the accumulated table is read back, and
  * each stat's span ends when its stat-table upsert returns (the table
  * name's `__<kind>` suffix names the stat). Only the tracer is transient;
  * executors see a plain sink. */
class TracedSink(url: String, @transient private val t: Tracer)
    extends JdbcSink(url) {

  @transient private var statSpan: Option[Span] = None

  /** Stat tables are `<org>__<package>__<resource>__<kind>`. */
  private def isStatTable(table: String): Boolean =
    table.split("__").length >= 4

  private def sinkSpan[T](name: String)(body: => T): T =
    if (t == null) body else t.span(name, "sink")(body)

  private def openStat(): Unit = if (t != null && t.on && t.current.nonEmpty)
    statSpan = Some(t.open("stats", "stats"))

  /** Close the open stat span (called after each stat upsert and when the
    * sweep returns); an unnamed trailing span is dropped from the tally. */
  def closeStat(): Unit = statSpan.foreach { s =>
    if (t.current.contains(s)) t.close(s)
    statSpan = None
  }

  override def readBack(spark: SparkSession, table: String): DataFrame = {
    val df = sinkSpan("sink.readBack")(super.readBack(spark, table))
    if (!isStatTable(table)) { closeStat(); openStat() }
    df
  }

  override def ensureTable(table: String, schema: StructType,
      pk: Seq[String]): Unit = {
    if (isStatTable(table)) statSpan.foreach(s =>
      if (s.name == "stats") s.name = "stats." + table.split("__").last)
    sinkSpan("sink.ensureTable")(super.ensureTable(table, schema, pk))
  }

  override def upsert(df: DataFrame, table: String, pk: Seq[String],
      batchSize: Int): Unit = {
    val stat = isStatTable(table)
    sinkSpan(if (stat) "sink.upsert.stat" else "sink.upsert")(
      super.upsert(df, table, pk, batchSize))
    if (stat && statSpan.exists(_.name != "stats")) { closeStat(); openStat() }
  }

  override def truncate(table: String): Unit =
    sinkSpan("sink.truncate")(super.truncate(table))

  override def tableExists(table: String): Boolean =
    sinkSpan("sink.tableExists")(super.tableExists(table))
}

/** The catalog the traced run puts into `JobRunner`: its public calls are
  * `sink` spans too (the catalog is the sink's metadata table). */
class TracedCatalog(sink: JdbcSink, t: Tracer) extends Catalog(sink) {
  override def description(resource: String): Option[String] =
    t.span("catalog.description", "sink")(super.description(resource))
  override def updateDescription(resource: String, ts: String): String =
    t.span("catalog.updateDescription", "sink")(
      super.updateDescription(resource, ts))
}
