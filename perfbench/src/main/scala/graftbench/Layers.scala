package graftbench

/** A finished operation of the closed loop. Times are epoch ms. */
final case class OpRun(id: Long, name: String, pass: Int, start: Double, end: Double,
                       error: Option[String]) {
  def ms: Double = end - start
}

/** Turns the traced run's spans and Spark events into the per-layer
  * metrics: counters are totals over one pass (the first traced one),
  * latencies are medians over every traced op or layer call. */
object Layers {

  final case class Result(metrics: Map[String, Double], selfMs: Map[String, Double],
                          perOp: Seq[Map[String, Any]], spans: Seq[Span])

  def compute(ops: Seq[OpRun], firstPass: Int, tracer: Tracer, events: SparkCollector,
              opCounters: Map[Long, Map[String, Double]]): Result = events.synchronized {
    val byId = ops.map(o => o.id -> o).toMap
    val slack = 2.0 // ms: the tracer and Spark read the wall clock separately
    def within(t: Double, o: OpRun) = t >= o.start - slack && t <= o.end + slack

    // a job belongs to the op named by its job group; jobs fired from
    // threads that did not inherit the group are placed by start time
    val jobsOf: Map[Long, Seq[SparkCollector.Job]] = events.jobs.toSeq.flatMap { j =>
      j.group.flatMap(_.toLongOption).flatMap(byId.get).filter(o => within(j.start, o))
        .orElse(ops.find(o => within(j.start, o))).map(_.id -> j)
    }.groupMap(_._1)(_._2)
    val stageOwner = jobsOf.toSeq.flatMap { case (_, js) => js.flatMap(j => j.stages.map(_ -> j.id)) }
      .groupMapReduce(_._1)(_._2)(math.min)
    def stagesOf(j: SparkCollector.Job): Seq[SparkCollector.Stage] =
      j.stages.filter(s => stageOwner.get(s).contains(j.id)).flatMap(events.stages.get)

    val opSpans = tracer.spans.toSeq
    val sparkSpans = ops.flatMap { o =>
      val calls = opSpans.filter(s => s.op == o.id)
      jobsOf.getOrElse(o.id, Nil).flatMap { j =>
        val parent = calls.filter(s => s.start <= j.start + slack && s.end + slack >= j.start)
          .maxByOption(_.start).map(_.id).getOrElse(0L)
        val st = stagesOf(j)
        val end = if (j.end.isNaN) (j.start +: st.map(_.end)).max else j.end
        val jobSpan = Span(1000000000L + j.id, parent, o.id, "spark", s"job ${j.id}", j.start, end)
        jobSpan +: st.map(s => Span(2000000000L + s.id, jobSpan.id, o.id, "spark",
          s"stage ${s.id}", s.start, s.end))
      }
    }
    val spans = opSpans ++ sparkSpans
    val children = spans.groupBy(_.parent)
    def self(s: Span): Double =
      s.ms - Stats.unionLength(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s.start, s.end)

    val perOp = ops.map { o =>
      val js = jobsOf.getOrElse(o.id, Nil)
      val st = js.flatMap(stagesOf)
      val builds = opSpans.filter(s => s.op == o.id && s.layer == "queries" && s.name == "build")
      val plan = events.plans.filter(p => within(p.start, o)).map(_.ms).sum
      Map[String, Double](
        "spark.jobs" -> js.size.toDouble,
        "spark.stages" -> st.size.toDouble,
        "spark.tasks" -> st.map(_.tasks).sum.toDouble,
        "spark.plan_ms" -> plan,
        "spark.driver_ms" -> (o.ms - Stats.unionLength(st.map(s => (s.start, s.end)), o.start, o.end)),
        "queries.build_jobs" -> js.count(j => builds.exists(b => j.start >= b.start - slack && j.start <= b.end + slack)).toDouble,
        "spark.exec_run_ms" -> st.map(_.runMs).sum.toDouble,
        "spark.exec_cpu_ms" -> st.map(_.cpuMs).sum,
        "spark.scan_bytes" -> st.map(_.scanBytes).sum.toDouble,
        "spark.shuffle_write_bytes" -> st.map(_.shuffleWriteBytes).sum.toDouble,
        "spark.shuffle_read_bytes" -> st.map(_.shuffleReadBytes).sum.toDouble,
        "spark.shuffle_records" -> st.map(_.shuffleRecords).sum.toDouble,
        "spark.spill_bytes" -> st.map(_.spillBytes).sum.toDouble,
        "spark.gc_ms" -> tracer.gcMs.getOrElse(o.id, 0.0),
        "spark.task_skew" -> st.flatMap(s => events.taskMs.get(s.id)).filter(_.size >= 2)
          .map(t => t.max.toDouble / math.max(1.0, Stats.median(t.map(_.toDouble).toSeq)))
          .maxOption.getOrElse(0.0),
        "spark.cache_residue_blocks" -> tracer.residue.getOrElse(o.id, 0L).toDouble,
      ) ++ opCounters.getOrElse(o.id, Map.empty)
    }
    val opStats = ops.map(_.id).zip(perOp).toMap
    val first = ops.filter(_.pass == firstPass).map(o => opStats(o.id))
    def total(k: String) = first.map(_.getOrElse(k, 0.0)).sum
    def medianOf(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def opMedian(k: String) = medianOf(perOp.map(_(k)))
    def callMedian(layer: String, name: String) =
      medianOf(opSpans.filter(s => s.layer == layer && s.name == name).map(_.ms))

    val metrics = Seq("spark.jobs", "spark.stages", "spark.tasks", "queries.build_jobs",
      "spark.scan_bytes", "spark.shuffle_write_bytes", "spark.shuffle_read_bytes",
      "spark.shuffle_records", "spark.spill_bytes", "spark.gc_ms",
      "spark.cache_residue_blocks", "catalog.bytes_written", "catalog.files_written")
      .map(k => k -> total(k)).toMap ++
      Seq("spark.plan_ms", "spark.driver_ms", "spark.exec_run_ms", "spark.exec_cpu_ms")
        .map(k => k -> opMedian(k)) ++
      Map(
        "spark.task_skew" -> first.map(_("spark.task_skew")).maxOption.getOrElse(0.0),
        "queries.build_ms" -> callMedian("queries", "build"),
        "catalog.put_ms" -> callMedian("catalog", "put"),
        "catalog.get_ms" -> callMedian("catalog", "get"),
        "catalog.ls_ms" -> callMedian("catalog", "ls"),
        "catalog.multiread_ms" -> callMedian("catalog", "multiread"),
        "catalog.delete_ms" -> callMedian("catalog", "delete"),
        "operators.maple_ms" -> callMedian("operators", "maple"),
        "operators.juice_ms" -> callMedian("operators", "juice"),
        "sql.parse_us" -> callMedian("sql", "parse") * 1000.0,
        "sql.select_ms" -> callMedian("sql", "select"))

    // self time per layer over the first traced pass: a span's own
    // time is its length minus the part its child spans cover
    val firstIds = ops.filter(_.pass == firstPass).map(_.id).toSet
    val selfMs = spans.filter(s => firstIds(s.op))
      .groupMapReduce(s => if (s.layer == "op") "harness" else s.layer)(self)(_ + _)

    val perOpOut = ops.map { o =>
      Map[String, Any]("id" -> o.id, "name" -> o.name, "pass" -> o.pass, "ms" -> o.ms,
        "error" -> o.error.orNull) ++ opStats(o.id)
    }
    Result(metrics, selfMs, perOpOut, spans)
  }
}
