package perfbench

/** The per-layer table of a traced run, computed from the span tree of
  * the timed sweeps. Times and bytes are means per sweep (one sweep = one
  * dropped file); ratios are over the run's totals. */
object Layers {

  /** Every per-layer metric, in output order, with its unit. */
  val Units: Seq[(String, String)] = Seq(
    "jobs.self_s" -> "s", "jobs.spark_jobs_per_file" -> "count",
    "ingest.read_s" -> "s", "ingest.bytes" -> "bytes",
    "dedupe.keep_ratio" -> "ratio", "dedupe.shuffle_bytes" -> "bytes",
    "sink.write_s" -> "s", "sink.rows_written" -> "count",
    "sink.read_s" -> "s", "sink.rows_read" -> "count",
    "sink.read_amplification" -> "ratio",
    "stats.describe_s" -> "s", "stats.mode_s" -> "s",
    "stats.resample_s" -> "s", "stats.shuffle_bytes" -> "bytes",
    "corpus.kept_ratio" -> "ratio", "corpus.dup_base" -> "count",
    "corpus.dup_delta" -> "count", "corpus.state_bytes_per_doc" -> "bytes",
    "corpus.gen_bytes" -> "bytes",
    "stream.add_batch_s" -> "s", "stream.overhead_s" -> "s",
    "stream.start_s" -> "s",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.executor_cpu_s" -> "s",
    "spark.cpu_util" -> "ratio", "spark.gc_s" -> "s",
    "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
    "spark.input_bytes" -> "bytes", "spark.output_bytes" -> "bytes",
    "spark.persisted_rdds_end" -> "count", "spark.cached_plans_end" -> "count")

  /** Length of the union of intervals, clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > cur) { total += e - math.max(s, cur); cur = e }
      }
    total
  }

  def compute(t: Tracer, sweeps: Seq[(Int, Double, SweepOutcome)],
      end: Map[String, Double], cores: Int, persisted: Int,
      cachedPlans: Int): Seq[(String, Double, String)] = {
    val spans = t.all.filter(_.sweep >= 1)
    val kids = spans.groupBy(_.parent)
    def under(s: Span): Seq[Span] =
      kids.getOrElse(s.id, Nil).flatMap(c => c +: under(c))
    val roots = spans.filter(s => s.parent == -1 && s.layer == "jobs")
    val n = math.max(1, sweeps.size).toDouble
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = acc(k) = acc.getOrElse(k, 0.0) + v

    roots.foreach { root =>
      val desc = under(root)
      val jobs = desc.filter(_.name.startsWith("spark:"))
      def sum(ss: Seq[Span], k: String) = ss.map(_.counts.getOrElse(k, 0.0)).sum
      val statSpans = desc.filter(s => s.layer == "stats")
      val inStats = statSpans.flatMap(s => under(s)).toSet
      val direct = kids.getOrElse(root.id, Nil)
      add("jobs.self_s", (root.end - root.start -
        covered(direct.map(c => (c.start, c.end)), root.start, root.end)) / 1e9)
      add("jobs.spark_jobs_per_file", jobs.size)
      add("ingest.read_s", jobs.filter(_.layer == "ingest").map(_.dur).sum)
      // a queue sweep's file scans are its CSV ingest; its shuffles outside
      // ingest and stats are the PK dedupe (distinct count, keep-last window)
      if (root.name == "jobs.runJobFile") {
        val dataJobs = jobs.filterNot(inStats)
        add("ingest.bytes", sum(dataJobs, "file_input_bytes"))
        add("dedupe.shuffle_bytes",
          sum(dataJobs.filter(_.layer != "ingest"), "shuffle_write"))
      }
      add("sink.write_s", desc.filter(_.name == "sink.upsert").map(_.dur).sum)
      add("sink.read_s", sum(jobs, "jdbc_ns") / 1e9)
      add("sink.rows_read", sum(jobs, "jdbc_rows"))
      Seq("descriptive" -> "describe", "mode" -> "mode", "h" -> "resample")
        .foreach { case (kind, m) =>
          add(s"stats.${m}_s",
            statSpans.filter(_.name == s"stats.$kind").map(_.dur).sum)
        }
      add("stats.shuffle_bytes", sum(jobs.filter(inStats), "shuffle_write"))
      add("spark.jobs", jobs.size)
      add("spark.stages", sum(jobs, "stages"))
      add("spark.tasks", sum(jobs, "tasks"))
      add("spark.executor_cpu_s", sum(jobs, "cpu_ns") / 1e9)
      add("spark.gc_s", sum(jobs, "gc_ms") / 1e3)
      add("spark.shuffle_write_bytes", sum(jobs, "shuffle_write"))
      add("spark.spill_bytes", sum(jobs, "spill"))
      add("spark.input_bytes", sum(jobs, "input_bytes"))
      add("spark.output_bytes", sum(jobs, "output_bytes"))
    }

    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    acc.foreach { case (k, v) => out(k) = v / n }
    def total(k: String) = sweeps.map(_._3.counts.getOrElse(k, 0.0)).sum
    def ratio(a: Double, b: Double) = if (b > 0) a / b else 0.0
    out("dedupe.keep_ratio") = ratio(total("rows_out"), total("rows_in"))
    out("sink.rows_written") = total("rows_out") / n
    out("sink.read_amplification") =
      ratio(acc.getOrElse("sink.rows_read", 0.0), total("table_rows_read"))
    out("corpus.kept_ratio") = ratio(total("n_kept"), total("n_delta"))
    out("corpus.dup_base") = total("dup_base") / n
    out("corpus.dup_delta") = total("dup_delta") / n
    out("corpus.state_bytes_per_doc") = end.getOrElse("state_bytes_per_doc", 0.0)
    out("corpus.gen_bytes") = total("gen_bytes") / n
    out("stream.add_batch_s") = total("add_batch_s") / n
    out("stream.overhead_s") = total("overhead_s") / n
    out("stream.start_s") = total("start_s") / n
    out("spark.cpu_util") = ratio(acc.getOrElse("spark.executor_cpu_s", 0.0),
      sweeps.map(_._2).sum * cores)
    out("spark.persisted_rdds_end") = persisted
    out("spark.cached_plans_end") = cachedPlans
    Units.map { case (name, unit) => (name, out.getOrElse(name, 0.0), unit) }
  }
}
