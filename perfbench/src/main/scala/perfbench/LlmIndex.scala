package perfbench

/** llm-index: epochs of build-once, probe-many over the staged indexes.
  * Each epoch opens a fresh `spark.newSession()` — the staged memos key
  * on session identity, so the epoch's four builds (IVF lists, BM25
  * postings, dedup components, NSW graph) run cold without any reset
  * hook — then runs the five probes, each `probeReps` times, in a seeded
  * order. The only workload on the staging layer, the ANN / dedup
  * operators and the native vector functions. Latency metrics cover the
  * probes; the builds are reported as build_s. */
object LlmIndex extends Workload with QueryOps {
  val name = "llm-index"
  val tables: Seq[String] = Seq("documents", "embeddings")
  /** Probe repetitions per epoch: 14 probes, so the tail has ten beyond
    * it, and both the tail and the median fall among the ten IVF and
    * BM25 probes; the graph probes (about 2 s each) run once. */
  val probeReps: Map[String, Int] = Map("q110_ann_ivf_indexed" -> 5, "q134_bm25_indexed" -> 5,
    "q209_dup_cluster_histogram" -> 2, "q331_ann_nsw_indexed" -> 1, "q338_nsw_tombstone" -> 1)

  /** Build query -> the short name of what it stages. */
  val builds: Seq[(String, String)] = Seq(
    "q109_ivf_index_build" -> "ivf", "q133_postings_build" -> "postings",
    "q107_dedup_components" -> "dedup", "q330_nsw_index_build" -> "nsw")
  val probes: Seq[String] = Seq("q110_ann_ivf_indexed", "q134_bm25_indexed",
    "q209_dup_cluster_histogram", "q331_ann_nsw_indexed", "q338_nsw_tombstone")
  /** Staged tables whose on-disk size is reported. */
  val artifacts: Seq[(String, String)] = Seq(
    "graft_ivf_lists" -> "ivf_lists", "graft_ivf_cents" -> "ivf_cents",
    "graft_postings" -> "postings", "graft_bm25_stats" -> "bm25_stats",
    "graft_nsw_vecs" -> "nsw_vecs", "graft_nsw_edges" -> "nsw_edges")


  private lazy val registry = graft.SparkEntry.queries

  def probeOrder(seed: Long, epoch: Int): Seq[String] =
    new scala.util.Random(seed * 31 + epoch).shuffle(probes.flatMap(p => Seq.fill(probeReps(p))(p)))

  private def epoch(ctx: Ctx, order: Seq[String]): Unit = {
    ctx.spark = ctx.spark.newSession()
    ctx.tracer.foreach(_.attach(ctx.spark))
    builds.foreach { case (q, short) => ctx.op("build", short)(runQuery(ctx, q, registry(q))) }
    order.foreach(q => ctx.op("probe", q)(runQuery(ctx, q, registry(q))))
  }

  /** No warm-up: the builds cost about as much on a tenth of the data as
    * on all of it (they are bound by job count, not rows), so a warm-up
    * epoch would double the run. The measured epoch's builds and first
    * probes therefore include the JVM's first-use costs, in every run. */
  def warmup(ctx: Ctx): Unit = ()

  def run(ctx: Ctx): Unit = {
    var epochs = 0
    ctx.measure() { e => epoch(ctx, probeOrder(ctx.seed, e)); epochs += 1 }
    ctx.info("epochs") = epochs.toString
    val wh = ctx.work.resolve("warehouse")
    artifacts.foreach { case (t, short) =>
      ctx.layer(s"staged.bytes.$short") =
        Disk.treeBytes(wh.resolve(graft.sources.Staging.appTable(ctx.spark, t))).toDouble
    }
  }

  override def latencyOps(ctx: Ctx): Seq[OpRecord] = ctx.ops.filter(_.kind == "probe").toSeq

  def check(ctx: Ctx): Unit = {
    checkDigests(ctx, probes, registry)
    val epochs = ctx.ops.filter(o => o.kind == "build" && o.ok).grouped(builds.size)
      .filter(_.size == builds.size).map(_.map(_.latencyS).sum).toSeq
    ctx.extraE2e("build_s") = Stats.medianOr0(epochs)
  }
}
