package perfbench

/** Per-layer metrics from a traced run's spans. Layers are the library's
  * packages: a span named `index.build` belongs to `graft.index`, and so
  * on for `query`, `streaming` and `ops`; `bench` spans are the
  * benchmark's own operations (`bench.op`) and set-up (`bench.setup`).
  * Every name in `Names` is reported by every workload, 0 where the
  * workload does not exercise the layer. */
object Layers {
  val Layers = Seq("index", "query", "streaming", "ops")
  val BuildStages = Seq("corpus_ids", "docmeta", "stats", "postings_raw",
    "dictionary", "segment_0", "segment_1", "segment_2", "segment_3")
  /** Measured operations the exact per-query counts are taken over. */
  val ExactOps = 20

  val Names: Seq[String] =
    Seq("index.build_s") ++
      BuildStages.map(s => s"index.stage.${s}_s") ++
      Seq("index.build.jobs", "index.build.task_cpu_s",
        "index.build.shuffle_write_mb", "index.bytes_per_posting",
        "index.bytes_per_input_byte",
        "query.self_s", "query.open_s", "query.jobs_per_query",
        "query.spark_ms_per_query", "query.driver_ms_per_query",
        "query.search_p50_ms", "query.search_p95_ms",
        "query.blocks_decoded_frac", "query.docs_scored_per_query",
        "streaming.ingest_batch_ms", "streaming.compact_s",
        "streaming.compactions", "streaming.compact.bytes_written_per_input_byte",
        "streaming.stream_segments_end",
        "ops.self_s", "ops.clean_s", "ops.clean.jobs", "ops.clean.shuffle_mb",
        "ops.clean.task_cpu_s", "ops.jaccard_pairs_s", "ops.pairs", "ops.cc_s",
        "ops.components", "jvm.gc_s", "trace.overhead_frac")

  private val MiB = 1024.0 * 1024.0

  /** Per-layer metrics and the one-line JSON summary for `workload`.
    * `measured` are workload-computed values (exact counts, bytes, GC);
    * `opMs` the untraced and traced operation latencies of the run. */
  def report(workload: String, spans: Seq[Span], measured: Map[String, Double],
             untracedOpMs: Seq[Double], tracedOpMs: Seq[Double])
      : (Map[String, Double], String) = {
    val byId = spans.map(s => s.id -> s).toMap
    val children = spans.filter(_.parent >= 0).groupBy(_.parent)
    def root(s: Span): Span =
      if (s.parent < 0) s else root(byId(s.parent))
    def selfMs(s: Span): Double = s.ms - Trace.coveredMs(s.startMs, s.endMs,
      children.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
    val opRoots = spans.filter(_.name == "bench.op")
    val inOps = spans.filter(s => root(s).name == "bench.op")
    def named(n: String, measuredOnly: Boolean = false): Seq[Span] =
      (if (measuredOnly) inOps else spans).filter(_.name == n)
    def med(ss: Seq[Span])(f: Span => Double): Double = Stat.median(ss.map(f))

    val m = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    Names.foreach(m(_) = 0.0)

    val builds = named("index.build")
    m("index.build_s") = med(builds)(_.ms / 1e3)
    for (st <- BuildStages)
      m(s"index.stage.${st}_s") = med(builds)(_.attrs.getOrElse(s"stage.$st", 0.0))
    m("index.build.jobs") = med(builds)(_.jobs.toDouble)
    m("index.build.task_cpu_s") = med(builds)(_.taskCpuNs / 1e9)
    m("index.build.shuffle_write_mb") = med(builds)(_.shuffleWriteBytes / MiB)

    m("query.open_s") = med(named("query.open"))(_.ms / 1e3)
    val searches = named("query.search", measuredOnly = true)
    m("query.jobs_per_query") = Stat.mean(searches.take(ExactOps).map(_.jobs.toDouble))
    m("query.spark_ms_per_query") = med(searches)(_.sparkMs)
    m("query.driver_ms_per_query") = med(searches)(s => s.ms - s.sparkMs)
    m("query.search_p50_ms") = med(searches)(_.ms)
    m("query.search_p95_ms") = Stat.quantile(searches.map(_.ms), 0.95)

    m("streaming.ingest_batch_ms") = med(named("streaming.ingest"))(_.ms)
    m("streaming.compact_s") = med(named("streaming.compact")
      .filter(_.attrs.get("compacted").contains(1.0)))(_.ms / 1e3)

    val cleans = named("ops.clean", measuredOnly = true)
    m("ops.clean_s") = med(cleans)(_.ms / 1e3)
    m("ops.clean.jobs") = med(cleans)(_.jobs.toDouble)
    m("ops.clean.shuffle_mb") = med(cleans)(_.shuffleWriteBytes / MiB)
    m("ops.clean.task_cpu_s") = med(cleans)(_.taskCpuNs / 1e9)
    m("ops.jaccard_pairs_s") = med(named("ops.jaccard_pairs"))(_.ms / 1e3)
    m("ops.cc_s") = med(named("ops.cc"))(_.ms / 1e3)

    // self time and Spark work per measured operation, layer by layer
    val nOps = math.max(1, opRoots.size)
    val perLayer = (Seq("bench") ++ Layers).map { l =>
      val ss = inOps.filter(_.layer == l)
      l -> Seq(
        "self_ms" -> ss.map(selfMs).sum / nOps,
        "spans" -> ss.size.toDouble / nOps,
        "jobs" -> ss.map(_.jobs).sum.toDouble / nOps,
        "tasks" -> ss.map(_.tasks).sum.toDouble / nOps,
        "task_cpu_ms" -> ss.map(_.taskCpuNs).sum / 1e6 / nOps,
        "shuffle_write_mb" -> ss.map(_.shuffleWriteBytes).sum / MiB / nOps,
        "shuffle_read_mb" -> ss.map(_.shuffleReadBytes).sum / MiB / nOps,
        "spill_mb" -> ss.map(_.spillBytes).sum / MiB / nOps,
        "output_mb" -> ss.map(_.outputBytes).sum / MiB / nOps)
    }
    for ((l, vs) <- perLayer if m.contains(s"$l.self_s"))
      m(s"$l.self_s") = vs.head._2 / 1e3
    // set-up: self seconds per layer over the whole set-up
    val inSetup = spans.filter(s => root(s).name == "bench.setup")
    val setupSelf = (Seq("bench") ++ Layers).map { l =>
      l -> inSetup.filter(_.layer == l).map(selfMs).sum / 1e3
    }

    val untracedMs = Stat.median(untracedOpMs)
    val tracedMs = Stat.median(tracedOpMs)
    if (untracedMs > 0) m("trace.overhead_frac") = (tracedMs - untracedMs) / untracedMs
    measured.foreach { case (k, v) =>
      require(m.contains(k), s"unknown per-layer metric $k")
      m(k) = v
    }

    val layerJson = perLayer.map { case (l, vs) =>
      s""""$l":${Json.obj(vs)}"""
    }.mkString("{", ",", "}")
    val line = s"""{"workload":"$workload","operations":${opRoots.size},""" +
      s""""per_operation":$layerJson,"setup_self_s":${Json.obj(setupSelf)},""" +
      s""""overhead":${Json.obj(Seq(
        "untraced_op_ms" -> untracedMs, "traced_op_ms" -> tracedMs,
        "traced_minus_untraced_ms" -> (tracedMs - untracedMs)))},""" +
      s""""metrics":${Json.obj(m.toSeq)}}"""
    (m.toMap, line)
  }
}

object Json {
  def num(v: Double): String = {
    require(!v.isNaN && !v.isInfinite, s"not a finite number: $v")
    java.lang.Double.toString(v)
  }

  def obj(kvs: Seq[(String, Double)]): String =
    kvs.map { case (k, v) => s""""$k":${num(v)}""" }.mkString("{", ",", "}")
}
