package perfbench

import graft.ops.Matrix
import graft.sources.BinaryMatrix
import org.apache.spark.sql.DataFrame

/** matmul: the reference's one job, C = A × B over dense int matrices
  * (values 0-9, non-square), read from its `.dat` format. The ops cycle
  * through three formulations: the COO join + aggregate, the blocked
  * (tiled) kernel, and the reference's literal mapper/reducer on the
  * MapReduce facade. One plan with millions of intermediate rows per op,
  * so shuffle, aggregation and kernels dominate and planning is
  * negligible — the inverse of sql-mix. */
object Matmul extends Workload {
  val name = "matmul"
  val tables: Seq[String] = Seq.empty
  val L = 96; val M = 64; val N = 80
  val Tile = 32
  /** Ops per run: five rotations, so the median and the tail (ten
    * samples beyond) both fall among the fifteen mapper/reducer ops. */
  val MinOps = 25
  val formulations: Seq[String] = Seq("coo", "blocked", "mr")
  /** One rotation of the mix. The reference's own formulation runs three
    * times: its latencies are the steadiest run to run (the blocked
    * kernel keeps speeding up for many rotations of a fresh JVM), so the
    * median and the tail fall on it. */
  val rotation: Seq[String] = Seq("coo", "blocked", "mr", "mr", "mr")

  /** The seeded matrices, row-major: A is L×M, B is M×N. */
  def matrices(seed: Long): (Array[Int], Array[Int]) = {
    val rnd = new java.util.SplittableRandom(seed)
    (Array.fill(L * M)(rnd.nextInt(10)), Array.fill(M * N)(rnd.nextInt(10)))
  }

  /** The reference's checking.c: a serial triple loop on the driver. */
  def serialProduct(a: Array[Int], b: Array[Int]): Array[Long] = {
    val c = new Array[Long](L * N)
    for (i <- 0 until L; j <- 0 until M) {
      val av = a(i * M + j).toLong
      var k = 0
      while (k < N) { c(i * N + k) += av * b(j * N + k); k += 1 }
    }
    c
  }

  private var dirs: (String, String) = _
  private var inputBytes = 0L

  override def prepare(ctx: Ctx, attempt: Int): Unit = {
    val (a, b) = matrices(ctx.seed)
    val base = ctx.work.resolve(s"matrices-$attempt")
    val pa = BinaryMatrix.write(base.resolve("a").toString, L, M, tag = 1)(id => a(id.toInt))
    val pb = BinaryMatrix.write(base.resolve("b").toString, M, N, tag = 2)(id => b(id.toInt))
    dirs = (pa.getParent.toString, pb.getParent.toString)
    inputBytes = java.nio.file.Files.size(pa) + java.nio.file.Files.size(pb)
    ctx.info("matrix_dims") = s"${L}x${M}x${N}"
  }

  /** C as (i, k, v) rows, computed one way. */
  def product(ctx: Ctx, how: String): DataFrame = {
    val s = ctx.spark
    import s.implicits._
    val a = BinaryMatrix.readCoo(s, dirs._1)
    val b = BinaryMatrix.readCoo(s, dirs._2).toDF("j", "k", "v")
    val (l, m, n) = (L, M, N)
    how match {
      case "coo" => Matrix.matmul(a, b)
      case "blocked" => Matrix.matmulBlocked(a, b, Tile)
      case "mr" =>
        // program.c's mapper: every A cell (i,j) goes to each key (i,k),
        // every B cell (j,k) to each key (i,k), tagged with its matrix;
        // the reducer pairs the two rows of one key by j.
        val cells = a.select(org.apache.spark.sql.functions.lit(0), $"i", $"j", $"v")
          .union(b.select(org.apache.spark.sql.functions.lit(1), $"j", $"k", $"v"))
          .as[(Int, Int, Int, Int)]
        graft.mr.MapReduceCompat.mapReduce(cells) { case (t, r, c, v) =>
          if (t == 0) Iterator.tabulate(n)(k => ((r, k), (0, c, v)))
          else Iterator.tabulate(l)(i => ((i, c), (1, r, v)))
        } { (key: (Int, Int), vs: Iterator[(Int, Int, Int)]) =>
          val av = new Array[Long](m)
          val bv = new Array[Long](m)
          vs.foreach { case (t, j, v) => if (t == 0) av(j) += v else bv(j) += v }
          var sum = 0L
          var j = 0
          while (j < m) { sum += av(j) * bv(j); j += 1 }
          (key._1, key._2, sum)
        }.toDF("i", "k", "v")
    }
  }

  private val results = scala.collection.mutable.ArrayBuffer[(String, Array[org.apache.spark.sql.Row])]()

  /** Warm-up: two rotations (latencies fall over the first rotations of
    * a fresh JVM while the JIT settles). */
  def warmup(ctx: Ctx): Unit = for (_ <- 1 to 2; f <- formulations) product(ctx, f).collect()

  def run(ctx: Ctx): Unit = {
    ctx.measure(i => (i + 1) % rotation.size == 0 && i + 1 >= MinOps) { i =>
      val how = rotation(i % rotation.size)
      var rows: Array[org.apache.spark.sql.Row] = null
      if (ctx.op(how, how) { rows = ctx.call("matrix", how)(product(ctx, how).collect()) })
        results += ((how, rows))
    }
    ctx.layer("matrix.input_bytes") = inputBytes.toDouble
  }

  /** Whether (i, k, v) cells are exactly the product `want`. */
  def sameProduct(cells: Seq[(Int, Int, Long)], want: Array[Long]): Boolean = {
    val got = new Array[Long](L * N)
    val seen = new Array[Boolean](L * N)
    cells.size == L * N && cells.forall { case (i, k, v) =>
      val ok = i >= 0 && i < L && k >= 0 && k < N && !seen(i * N + k)
      if (ok) { seen(i * N + k) = true; got(i * N + k) = v }
      ok
    } && java.util.Arrays.equals(got, want)
  }

  def check(ctx: Ctx): Unit = {
    val (a, b) = matrices(ctx.seed)
    val want = serialProduct(a, b)
    results.foreach { case (how, rows) =>
      if (!sameProduct(rows.toSeq.map(r => (r.getInt(0), r.getInt(1), r.getLong(2))), want))
        ctx.mismatch(s"matmul $how: product differs from the serial loop")
    }
  }
}
