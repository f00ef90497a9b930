package perfbench

import org.apache.spark.sql.DataFrame

/** Oracle-checked query packs run as ops through the `noop` sink. */
trait QueryOps {
  type Builder = (org.apache.spark.sql.SparkSession, String) => DataFrame

  /** The stored DuckDB digests, query name -> digest. */
  def digests(ctx: Ctx): Map[String, String] = {
    import scala.jdk.CollectionConverters._
    new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(ctx.benchDir.resolve("digests.json").toFile, classOf[java.util.Map[String, String]])
      .asScala.toMap
  }

  /** Builds the query (traced as the `queries` layer), then executes
    * it through the noop sink; jobs carry the query name. */
  def runQuery(ctx: Ctx, name: String, q: Builder): Unit = {
    val sc = ctx.spark.sparkContext
    sc.setJobDescription(name)
    try {
      val df = ctx.call("build", name)(q(ctx.spark, ctx.data))
      df.write.format("noop").mode("overwrite").save()
    } finally sc.setJobDescription(null)
  }

  /** Digest check of each named query, outside any timed interval. */
  def checkDigests(ctx: Ctx, names: Iterable[String], q: String => Builder): Unit = {
    val want = digests(ctx)
    names.foreach { n =>
      try {
        val got = Digest.of(q(n)(ctx.spark, ctx.data))
        if (!want.get(n).contains(got)) ctx.mismatch(s"$n: digest $got, expected ${want.getOrElse(n, "none")}")
      } catch {
        case e: Throwable => ctx.mismatch(s"$n: check failed: ${e.getClass.getSimpleName}")
      }
    }
  }
}

/** sql-mix: the DuckDB-checked relational, join, aggregate, window and
  * scalar queries at sf0.1, one at a time in a seed-shuffled order.
  * Small data and many short plans: per-query fixed costs (building the
  * query, Catalyst, job scheduling, single-task scans) dominate.
  *
  * A whole pass over the 85 queries takes about a minute, too long to
  * repeat in every run, so the queries are dealt into `Mixes` mixes of
  * like cost distribution (sorted by the latencies measured in
  * `sql_mix_costs.json`, dealt back and forth) and the seed picks the
  * mix; seeds 0-6 between them cover every query. */
object SqlMix extends Workload with QueryOps {
  val name = "sql-mix"
  val tables: Seq[String] = Data.rowCounts.keys.toSeq.sorted

  private val packs = Seq(graft.queries.RelationalQueries, graft.queries.JoinQueries,
    graft.queries.AggQueries, graft.queries.WindowQueries, graft.queries.ScalarQueries)

  /** Every query of the five packs that has an oracle, less the
    * `_demo_bounded` single-task compatibility annex. */
  lazy val queries: Map[String, Builder] =
    packs.flatMap(p => p.queries.filter { case (k, _) =>
      p.oracles.contains(k) && !k.contains("_demo_bounded") }).toMap

  val Mixes = 7

  /** Mix k of the queries, given each query's cost (unknown costs read
    * as the median): sorted by cost, dealt 0..K-1, K-1..0, ... */
  def mixes(names: Seq[String], cost: Map[String, Double]): IndexedSeq[Seq[String]] = {
    val known = names.flatMap(cost.get)
    val fill = if (known.isEmpty) 0.0 else Stats.median(known)
    val sorted = names.sortBy(n => (cost.getOrElse(n, fill), n))
    val slots = sorted.indices.map { r =>
      val lap = r / Mixes
      if (lap % 2 == 0) r % Mixes else Mixes - 1 - r % Mixes
    }
    (0 until Mixes).map(k => sorted.zip(slots).collect { case (n, s) if s == k => n })
  }

  /** The seed's mix, in seeded order. */
  def order(ctx: Ctx, seed: Long): Seq[String] = {
    import scala.jdk.CollectionConverters._
    val cost = new com.fasterxml.jackson.databind.ObjectMapper()
      .readValue(ctx.benchDir.resolve("sql_mix_costs.json").toFile, classOf[java.util.Map[String, Double]])
      .asScala.toMap.map { case (k, v) => k -> v.doubleValue }
    val mix = mixes(queries.keys.toSeq, cost)(Math.floorMod(seed, Mixes.toLong).toInt)
    new scala.util.Random(seed).shuffle(mix)
  }

  /** Warm-up runs two queries of the next mix. */
  def warmup(ctx: Ctx): Unit =
    order(ctx, ctx.seed + 1).take(2).foreach(n => runQuery(ctx, n, queries(n)))

  def run(ctx: Ctx): Unit = {
    val seq = order(ctx, ctx.seed)
    ctx.info("mix") = Math.floorMod(ctx.seed, Mixes.toLong).toString
    ctx.measure(i => (i + 1) % seq.size == 0) { i =>
      val n = seq(i % seq.size)
      ctx.op("query", n)(runQuery(ctx, n, queries(n)))
    }
  }

  def check(ctx: Ctx): Unit =
    checkDigests(ctx, ctx.ops.filter(_.ok).map(_.name).distinct, queries)
}
