package perfbench

/** Per-layer metrics of a traced run, derived from its spans.
  *
  * Sums are reported per op (the run's length varies), times in seconds.
  * Only work inside measured ops counts: set-up, warm-up and output
  * checks are excluded. A layer a workload does not reach reports 0.
  */
object Layers {
  val matrixOps = Seq("coo", "blocked", "mr")
  val txKinds = Seq("create", "merge", "merge_into", "merge_sql", "delete_cow", "delete_sql",
    "delete_mor", "append", "optimize", "snapshot", "change_feed", "restore", "vacuum")
  /** TxTable's job labels (`tx:<label>`) met inside ops, and `other`
    * for TxTable-call jobs without one. */
  val txPhases = Seq("merge:validate", "merge:probe", "merge:join-ckpt", "merge:delta-ckpt",
    "delete:probe", "delete:ckpt", "mor:probe", "mor:dv-write", "mor:ckpt", "data-write",
    "cdc-write", "other")
  val stagedBuilds = Seq("ivf", "postings", "dedup", "nsw")
  val stagedProbes = Seq("q110", "q134", "q209", "q331", "q338")

  /** Every per-layer metric, in BENCHMARK.json order, with its unit. */
  val catalog: Seq[(String, String)] =
    Seq("queries.build_s" -> "s", "queries.build_jobs" -> "count",
      "engine.plan_s" -> "s/op", "engine.driver_self_s" -> "s/op",
      "exec.jobs" -> "count/op", "exec.stages" -> "count/op", "exec.tasks" -> "count/op",
      "exec.task_s" -> "s/op", "exec.task_cpu_s" -> "s/op", "exec.gc_s" -> "s/op",
      "exec.busy_frac" -> "ratio", "exec.shuffle_write_mb" -> "MB/op",
      "exec.shuffle_read_mb" -> "MB/op", "exec.spill_mb" -> "MB/op", "exec.scan_mb" -> "MB/op",
      "exec.stage_skew" -> "ratio") ++
      matrixOps.map(f => s"matrix.${f}_s" -> "s") ++
      Seq("matrix.agg_rows_in" -> "rows", "matrix.agg_rows_per_cell" -> "ratio",
        "matrix.shuffle_per_input_byte" -> "ratio") ++
      txKinds.map(k => s"tx.${k}_s" -> "s") ++
      Seq("tx.jobs_per_commit" -> "count", "tx.write_amp" -> "ratio", "tx.log_bytes" -> "bytes",
        "tx.live_files" -> "count") ++
      txPhases.map(p => s"tx.phase.${p.replace(':', '.')}_s" -> "s/op") ++
      stagedBuilds.map(b => s"staged.build_s.$b" -> "s") ++
      LlmIndex.artifacts.map(a => s"staged.bytes.${a._2}" -> "bytes") ++
      stagedProbes.map(q => s"staged.probe_s.$q" -> "s") ++
      Seq("staged.probe_jobs_before_return" -> "count", "trace.ops_per_s" -> "1/s")

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** The `tx:` label of a job description ("q/tx:merge:probe" -> "merge:probe"). */
  def txLabel(desc: String): Option[String] =
    desc.split('/').reverse.find(_.startsWith("tx:")).map(_.stripPrefix("tx:"))

  def derive(ctx: Ctx, t: Tracer, cores: Int): Seq[(String, Double, String)] = {
    val spans = t.all
    val ops = spans.filter(_.kind == "op").sortBy(_.startUs)
    val opIds = ops.map(_.id).toSet
    val inOps = spans.filter(s => opIds(s.op))
    val byParent = inOps.groupBy(_.parent)
    val jobs = inOps.filter(_.kind == "job")
    val stages = inOps.filter(_.kind == "stage")
    val n = math.max(ops.size, 1).toDouble
    // Query-execution events carry no span id; they belong to the op
    // whose interval holds their first planning phase.
    val opStarts = ops.map(_.startUs).toArray
    def opAt(us: Long): Option[Span] = {
      val i = java.util.Arrays.binarySearch(opStarts, us)
      val j = if (i >= 0) i else -i - 2
      if (j >= 0 && us < ops(j).endUs) Some(ops(j)) else None
    }
    val plansByOp = spans.filter(_.kind == "plan").flatMap(p => opAt(p.startUs).map(_.id -> p))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val m = scala.collection.mutable.LinkedHashMap[String, Double]()
    def sumStage(a: String) = stages.map(_.attr(a)).sum

    val builds = inOps.filter(_.kind == "build")
    m("queries.build_s") = mean(builds.map(_.durS))
    m("queries.build_jobs") = mean(builds.map(b => byParent.getOrElse(b.id, Nil).count(_.kind == "job").toDouble))
    m("engine.plan_s") = plansByOp.values.flatten.map(_.attr("plan_s")).sum / n
    m("engine.driver_self_s") = ops.map { o =>
      Stats.selfTime((o.startUs, o.endUs), jobs.filter(_.op == o.id).map(j => (j.startUs, j.endUs)))
    }.sum / 1e6 / n
    m("exec.jobs") = jobs.size / n
    m("exec.stages") = stages.size / n
    m("exec.tasks") = sumStage("tasks") / n
    m("exec.task_s") = sumStage("task_s") / n
    m("exec.task_cpu_s") = sumStage("cpu_s") / n
    m("exec.gc_s") = sumStage("gc_s") / n
    m("exec.busy_frac") = sumStage("task_s") / (cores * math.max(ops.map(_.durS).sum, 1e-9))
    m("exec.shuffle_write_mb") = sumStage("shuffle_write") / 1e6 / n
    m("exec.shuffle_read_mb") = sumStage("shuffle_read") / 1e6 / n
    m("exec.spill_mb") = sumStage("spill") / 1e6 / n
    m("exec.scan_mb") = sumStage("input") / 1e6 / n
    m("exec.stage_skew") = Stats.medianOr0(stages.filter(_.attr("tasks") >= 2).map(_.attr("skew")))

    val okOps = ctx.ops.filter(_.ok).toSeq
    def medianOf(kind: String, name: String) =
      Stats.medianOr0(okOps.filter(o => o.kind == kind && o.name == name).map(_.latencyS))
    matrixOps.foreach(f => m(s"matrix.${f}_s") = medianOf(f, f))
    val matOps = ops.filter(o => matrixOps.contains(o.name))
    // Rows into the COO formulation's aggregate, and per output cell.
    val aggIn = mean(matOps.filter(_.name == "coo").map(o =>
      plansByOp.getOrElse(o.id, Nil).map(_.attr("agg_rows_in")).maxOption.getOrElse(0.0)))
    m("matrix.agg_rows_in") = aggIn
    m("matrix.agg_rows_per_cell") = aggIn / (Matmul.L * Matmul.N)
    val inputBytes = ctx.layer.getOrElse("matrix.input_bytes", 0.0)
    m("matrix.shuffle_per_input_byte") =
      if (inputBytes == 0) 0.0
      else mean(matOps.map(o => stages.filter(_.op == o.id).map(_.attr("shuffle_write")).sum / inputBytes))

    val txCalls = spans.filter(_.kind == "tx")
    txKinds.foreach(k => m(s"tx.${k}_s") = Stats.medianOr0(txCalls.filter(_.name == k).map(_.durS)))
    val commitOps = ops.filter(o => TxOps.writeKinds(o.name) && o.name != "append_replay")
    m("tx.jobs_per_commit") =
      if (commitOps.isEmpty) 0.0 else jobs.count(j => commitOps.exists(_.id == j.op)).toDouble / commitOps.size
    Seq("tx.write_amp", "tx.log_bytes", "tx.live_files").foreach(k => m(k) = ctx.layer.getOrElse(k, 0.0))
    val txCallIds = txCalls.map(_.id).toSet
    val phaseTime = jobs.filter(j => txCallIds(j.parent))
      .groupBy(j => txLabel(j.name).filter(txPhases.contains).getOrElse("other"))
      .map { case (k, js) => k -> js.map(_.durS).sum }
    txPhases.foreach(p => m(s"tx.phase.${p.replace(':', '.')}_s") = phaseTime.getOrElse(p, 0.0) / n)

    stagedBuilds.foreach(b => m(s"staged.build_s.$b") = medianOf("build", b))
    LlmIndex.artifacts.foreach { case (_, a) => m(s"staged.bytes.$a") = ctx.layer.getOrElse(s"staged.bytes.$a", 0.0) }
    stagedProbes.foreach { q =>
      m(s"staged.probe_s.$q") = Stats.medianOr0(okOps.filter(o => o.kind == "probe" && o.name.startsWith(q + "_")).map(_.latencyS))
    }
    val probeOps = ops.filter(o => LlmIndex.probes.contains(o.name)).map(_.id).toSet
    m("staged.probe_jobs_before_return") =
      mean(builds.filter(b => probeOps(b.op)).map(b => byParent.getOrElse(b.id, Nil).count(_.kind == "job").toDouble))

    catalog.filterNot(_._1 == "trace.ops_per_s").map { case (k, u) => (k, m.getOrElse(k, 0.0), u) }
  }

  /** Writes every span as one JSON line. */
  def writeSpans(t: Tracer, path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = t.all.map(s => Json.write(scala.collection.immutable.ListMap[String, Any](
      "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "kind" -> s.kind, "name" -> s.name,
      "start_us" -> s.startUs, "end_us" -> s.endUs, "attrs" -> s.attrs)))
    java.nio.file.Files.write(path, (lines.mkString("\n") + "\n").getBytes("UTF-8"))
  }
}
