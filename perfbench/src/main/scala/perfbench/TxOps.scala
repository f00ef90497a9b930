package perfbench

import graft.sources.TxTable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** One generated TxTable op. `rows` are full orders rows
  * (key, custkey, status, totalprice, orderdate micros, priority);
  * status "X" marks a MERGE source row that deletes its match. */
final case class TxOpSpec(kind: String, rows: Seq[(Long, Long, String, Double, Long, String)] = Nil,
                          keys: Seq[Long] = Nil, lo: Long = 0, hi: Long = 0, batchId: Long = 0)

/** tx-ops: a seeded op sequence against one TxTable built from the sf0.1
  * orders table (150 k keys): upserts through three doors (merge,
  * mergeInto, SQL MERGE), copy-on-write, SQL and merge-on-read deletes,
  * idempotent appends (one replayed batch), key-range snapshot reads,
  * change-feed reads, periodic optimize, one restore and one vacuum. The
  * only workload that touches TxTable: its read/write/space trade-offs
  * show here. Every read and the final snapshot are compared with a
  * driver-side model of the table. */
object TxOps extends Workload {
  val name = "tx-ops"
  val tables: Seq[String] = Seq("orders")
  val Keys = 150000L
  val Buckets = 8
  val DeltaRows = 400
  val RangeWidth = 3000L
  val AppId = "perfbench"
  val writeKinds = Set("merge", "merge_into", "merge_sql", "delete_cow", "delete_sql",
    "delete_mor", "append", "append_replay", "optimize", "restore")
  val readKinds = Set("snapshot", "change_feed")
  private val core = Seq("merge", "merge_into", "merge_sql", "delete_cow", "delete_sql",
    "delete_mor", "append", "snapshot", "change_feed")

  /** The ops of mix unit `u`: the core kinds in seeded order, closed by
    * an optimize. Unit 0 also holds the one-off ops: a restore after the
    * fifth op (at least three commits in), then a replay of its append
    * batch and a vacuum at the end. */
  def unit(seed: Long, u: Int): IndexedSeq[TxOpSpec] = {
    val rnd = new java.util.SplittableRandom(seed * 1000003L + u)
    def row(k: Long, status: String) =
      (k, rnd.nextLong(15000), status, (100191 + rnd.nextLong(49899128)) / 100.0,
        (9131L + rnd.nextLong(2404)) * 86400000000L, // 1995-01-01 + days, in micros
        Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")(rnd.nextInt(5)))
    def oldKeys(n: Int) = Seq.fill(n)(rnd.nextLong(Keys)).distinct
    def newKeys(n: Int, slot: Int) = (0 until n).map(i => Keys + (u * 16L + slot) * DeltaRows + i)
    def status() = Seq("F", "O", "P")(rnd.nextInt(3))
    def upsert(kind: String, slot: Int, deletes: Boolean) = {
      val old = oldKeys(DeltaRows * 3 / 4)
      val dels = if (deletes) old.take(old.size / 4).toSet else Set.empty[Long]
      TxOpSpec(kind, old.map(k => row(k, if (dels(k)) "X" else status())) ++
        newKeys(DeltaRows / 4, slot).map(k => row(k, status())))
    }
    def range(kind: String) = {
      val lo = rnd.nextLong(Keys - RangeWidth)
      TxOpSpec(kind, lo = lo, hi = lo + RangeWidth - 1)
    }
    // A change feed needs a commit before it: in unit 0 it moves past
    // the first write.
    val shuffled = new scala.util.Random(rnd.nextLong()).shuffle(core)
    val order =
      if (u > 0) shuffled
      else {
        val firstWrite = shuffled.indexWhere(k => writeKinds(k))
        val cf = shuffled.indexOf("change_feed")
        if (cf > firstWrite) shuffled
        else shuffled.patch(cf, Nil, 1).patch(firstWrite, Seq("change_feed"), 0)
      }
    val body = order.map {
      case "merge" => upsert("merge", 0, deletes = false)
      case "merge_into" => upsert("merge_into", 1, deletes = true)
      case "merge_sql" => upsert("merge_sql", 2, deletes = true)
      case k @ ("delete_cow" | "delete_mor") => TxOpSpec(k, keys = oldKeys(DeltaRows / 4))
      case "delete_sql" =>
        val lo = rnd.nextLong(Keys - 200)
        TxOpSpec("delete_sql", lo = lo, hi = lo + 199)
      case "append" => TxOpSpec("append", newKeys(DeltaRows, 3).map(k => row(k, status())),
        batchId = u.toLong)
      case k => range(k)
    }
    val withOnce =
      if (u == 0) body.take(5) ++ Seq(TxOpSpec("restore")) ++ body.drop(5) ++
        Seq(TxOpSpec("append_replay", batchId = 0L), TxOpSpec("vacuum"))
      else body
    (withOnce :+ TxOpSpec("optimize")).toIndexedSeq
  }

  // ---- the driver-side model ----
  type Model = Map[Long, Seq[Any]]
  private def toValues(r: (Long, Long, String, Double, Long, String)): Seq[Any] =
    Seq(r._1, r._2, r._3, r._4,
      org.apache.spark.sql.catalyst.util.DateTimeUtils.toJavaTimestamp(r._5), r._6)

  /** The model's state after a write op. */
  def applyOp(m: Model, op: TxOpSpec, versions: Map[Int, Model], latest: Int): Model = op.kind match {
    case "merge" | "append" => m ++ op.rows.map(r => r._1 -> toValues(r))
    case "merge_into" | "merge_sql" =>
      op.rows.foldLeft(m) { (acc, r) =>
        if (r._3 == "X") acc - r._1 else acc + (r._1 -> toValues(r))
      }
    case "delete_cow" | "delete_mor" => m -- op.keys
    case "delete_sql" => m.filter { case (k, _) => k < op.lo || k > op.hi }
    case "restore" => versions(latest - 2)
    case _ => m
  }

  // ---- run state ----
  private var root: String = _
  private var schema: org.apache.spark.sql.types.StructType = _
  private var model: Model = Map.empty
  private var versions: Map[Int, Model] = Map.empty
  private var bytesPerRow = 0.0
  private var addedBytes = 0L
  private var deltaRows = 0L
  private val createS = scala.collection.mutable.ArrayBuffer[Double]()

  private def rowsDf(ctx: Ctx, rows: Seq[(Long, Long, String, Double, Long, String)]): DataFrame =
    ctx.spark.createDataFrame(
      java.util.Arrays.asList(rows.map(r => Row.fromSeq(toValues(r))): _*), schema)

  override def setupReps: Int = 1

  override def prepare(ctx: Ctx, attempt: Int): Unit = {
    val s = ctx.spark
    root = ctx.work.resolve(s"txtable-$attempt").toString
    val orders = graft.sources.Tables.orders(s, ctx.data)
    val t0 = System.nanoTime()
    ctx.call("tx", "create")(TxTable.create(orders, root, Buckets, key = "o_orderkey"))
    createS += (System.nanoTime() - t0) / 1e9
    schema = TxTable.snapshot(s, root).schema
    if (attempt == 0) {
      model = orders.collect().map(r => r.getLong(0) -> r.toSeq).toMap
      bytesPerRow = Disk.treeBytes(ctx.work.resolve("data/orders.parquet")).toDouble / model.size
    }
    versions = Map(TxTable.latestVersion(s, root) -> model)
    ctx.info("tx_table_rows") = model.size.toString
  }

  /** Warm-up runs three ops of a spare unit (its own key range) on the
    * table, checked like the measured ones. */
  def warmup(ctx: Ctx): Unit = {
    val ops = unit(ctx.seed, WarmupUnit)
    Seq("merge_sql", "delete_mor", "change_feed").foreach { k =>
      val op = ops.find(_.kind == k).get
      step(ctx, op)(Some(execute(ctx, root, op)))
    }
  }

  private val WarmupUnit = 15

  /** Runs one op against the table at `r`; returns the collected rows of
    * a read, or whether an append committed. */
  private def execute(ctx: Ctx, r: String, op: TxOpSpec): Any = {
    val s = ctx.spark
    def tx[T](body: => T): T = ctx.call("tx", op.kind)(body)
    op.kind match {
      case "merge" => tx(TxTable.merge(s, r, rowsDf(ctx, op.rows)))
      case "merge_into" =>
        tx(TxTable.mergeInto(s, r, rowsDf(ctx, op.rows), col("o_orderstatus") === "X"))
      case "merge_sql" =>
        rowsDf(ctx, op.rows).createOrReplaceTempView("perfbench_tx_delta")
        tx(s.sql(
          s"""MERGE INTO graft_tx.`$r` AS t USING perfbench_tx_delta AS s
             |ON t.o_orderkey = s.o_orderkey
             |WHEN MATCHED AND s.o_orderstatus = 'X' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED AND s.o_orderstatus <> 'X' THEN INSERT *""".stripMargin).collect())
      case "delete_cow" =>
        import s.implicits._
        tx(TxTable.delete(s, r, op.keys.toDF("o_orderkey")))
      case "delete_mor" =>
        import s.implicits._
        tx(TxTable.deleteMor(s, r, op.keys.toDF("o_orderkey")))
      case "delete_sql" =>
        tx(s.sql(s"DELETE FROM graft_tx.`$r` WHERE o_orderkey BETWEEN ${op.lo} AND ${op.hi}").collect())
      case "append" | "append_replay" =>
        val rows = if (op.kind == "append") op.rows else unit(ctx.seed, op.batchId.toInt)
          .find(_.kind == "append").get.rows
        tx(TxTable.appendBatch(s, r, AppId, op.batchId, rowsDf(ctx, rows)))
      case "snapshot" =>
        tx(TxTable.snapshot(s, r).filter(col("o_orderkey").between(op.lo, op.hi)).collect())
      case "change_feed" =>
        val v = TxTable.latestVersion(s, r)
        tx(TxTable.changeFeed(s, r, math.max(1, v - 2), v).select(("change_type" +: cols).map(col): _*).collect())
      case "optimize" => tx(TxTable.optimize(s, r, targetRows = Keys / 2))
      case "restore" => tx(TxTable.restore(s, r, TxTable.latestVersion(s, r) - 2))
      case "vacuum" => tx(TxTable.vacuum(s, r, retainVersions = 4))
    }
  }

  private def rowsOf(rs: Array[Row]): Seq[Seq[Any]] = rs.toSeq.map(_.toSeq)
  private val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority")

  /** The change feed the model predicts between two versions. */
  def expectedFeed(from: Model, to: Model): Seq[Seq[Any]] =
    (from.keySet ++ to.keySet).toSeq.flatMap { k =>
      (from.get(k), to.get(k)) match {
        case (None, Some(n)) => Seq("insert" +: n)
        case (Some(o), None) => Seq("delete" +: o)
        case (Some(o), Some(n)) if Digest.rowHash(o) != Digest.rowHash(n) =>
          Seq("update_pre" +: o, "update_post" +: n)
        case _ => Nil
      }
    }

  /** Units per run: the one-off ops of unit 0 then a plain unit, so the
    * median and the tail fall among the substantive ops. */
  val MinUnits = 2

  def run(ctx: Ctx): Unit = {
    var ops = IndexedSeq.empty[TxOpSpec]
    ctx.measure(i => i + 1 == ops.size && ops.count(_.kind == "optimize") >= MinUnits) { i =>
      if (i == ops.size) ops ++= unit(ctx.seed, ops.count(_.kind == "optimize"))
      val op = ops(i)
      step(ctx, op) {
        var out: Any = null
        val kind = if (writeKinds(op.kind)) "write" else if (readKinds(op.kind)) "read" else "other"
        if (ctx.op(kind, op.kind) { out = execute(ctx, root, op) }) Some(out) else None
      }
    }
    ctx.info("tx_units") = ops.count(_.kind == "optimize").toString
  }

  /** Runs `exec` (None when the op failed) and checks its outcome
    * against the model, which it then advances. */
  private def step(ctx: Ctx, op: TxOpSpec)(exec: => Option[Any]): Unit = {
    val before = if (writeKinds(op.kind)) Disk.treeBytes(java.nio.file.Paths.get(root)) else 0L
    exec.foreach(out => verify(ctx, op, out, before))
  }

  private def verify(ctx: Ctx, op: TxOpSpec, out: Any, bytesBefore: Long): Unit = {
    val s = ctx.spark
    val latest = TxTable.latestVersion(s, root)
    op.kind match {
      case "snapshot" =>
        val want = model.filter { case (k, _) => k >= op.lo && k <= op.hi }.values.toSeq
        val got = rowsOf(out.asInstanceOf[Array[Row]])
        if (Digest.ofRows(cols, got) != Digest.ofRows(cols, want))
          ctx.mismatch(s"snapshot [${op.lo}, ${op.hi}]: ${got.size} rows, model has ${want.size}")
      case "change_feed" =>
        val got = out.asInstanceOf[Array[Row]]
        val want = expectedFeed(versions(math.max(1, latest - 2)), versions(latest))
        if (Digest.ofRows("change_type" +: cols, rowsOf(got)) != Digest.ofRows("change_type" +: cols, want))
          ctx.mismatch(s"change feed v${math.max(1, latest - 2)}..v$latest: ${got.length} rows, model has ${want.size}: " +
            Digest.diff("change_type" +: cols, rowsOf(got), want))
      case "append_replay" =>
        if (out != false) ctx.mismatch("replayed append batch committed again")
      case "vacuum" => ()
      case k =>
        model = applyOp(model, op, versions, latest - 1)
        versions += latest -> model
        addedBytes += math.max(0L, Disk.treeBytes(java.nio.file.Paths.get(root)) - bytesBefore)
        deltaRows += op.rows.size + op.keys.size
        if (k == "append" && out != true) ctx.mismatch("append did not commit")
    }
  }

  def check(ctx: Ctx): Unit = {
    val s = ctx.spark
    val snap = TxTable.snapshot(s, root)
    val got = Digest.of(snap.select(cols.map(col): _*))
    val want = Digest.ofRows(cols, model.values.toSeq)
    if (got != want) ctx.mismatch(s"final snapshot $got, model $want")
    val rootP = java.nio.file.Paths.get(root)
    val onDisk = Disk.treeBytes(rootP).toDouble
    val live = model.size * bytesPerRow
    val ops = ctx.ops.filter(_.ok).toSeq
    ctx.extraE2e("write_p50_s") = Stats.medianOr0(ops.filter(_.kind == "write").map(_.latencyS))
    ctx.extraE2e("read_p50_s") = Stats.medianOr0(ops.filter(_.kind == "read").map(_.latencyS))
    ctx.extraE2e("space_amp") = onDisk / live
    ctx.layer("tx.create_s") = Stats.median(createS.toSeq)
    ctx.layer("tx.write_amp") = if (deltaRows == 0) 0.0 else addedBytes / (deltaRows * bytesPerRow)
    ctx.layer("tx.log_bytes") = Disk.treeBytes(rootP.resolve("_log")).toDouble
    ctx.layer("tx.live_files") = TxTable.liveFiles(s, root).size.toDouble
  }
}
