package perfbench

import org.apache.spark.sql.{DataFrame, Row}

/** Order-independent digest of a query result, computed identically by
  * `gen_digests.py` over DuckDB's result of the oracle SQL.
  *
  * It follows the comparison of the engine's oracle check in exact mode:
  * columns are matched by lower-cased name in sorted order, integers of
  * any width are equal when their values are, and floating-point values
  * (and decimals, which that check reads as doubles) are equal only when
  * their IEEE-754 bits are. Each row becomes a canonical string; the
  * digest is the column list, the row count and the sum modulo 2^64 of
  * the rows' truncated SHA-256 hashes, so row order does not matter but
  * row multiplicity does.
  */
object Digest {
  private val ColSep = "\u0001"
  private val ElemSep = "\u0002"

  private def hexBits(d: Double): String =
    if (d.isNaN) "fnan" else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToRawLongBits(d))

  /** Canonical text of one value; must match `canon` in gen_digests.py. */
  def canon(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case x: Byte => "i" + x
    case x: Short => "i" + x
    case x: Int => "i" + x
    case x: Long => "i" + x
    case x: java.math.BigInteger => "i" + x
    case x: java.math.BigDecimal => hexBits(x.doubleValue)
    case x: scala.math.BigDecimal => hexBits(x.toDouble)
    case x: Float => hexBits(x.toDouble)
    case x: Double => hexBits(x)
    case x: String => "s" + x
    case x: java.sql.Timestamp =>
      "t" + (Math.floorDiv(x.getTime, 1000L) * 1000000L + x.getNanos / 1000)
    case x: java.time.Instant => "t" + (x.getEpochSecond * 1000000L + x.getNano / 1000)
    case x: java.time.LocalDateTime =>
      "t" + (x.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + x.getNano / 1000)
    // A date reads as midnight UTC: the oracle check compares dates and
    // timestamps by instant (both become datetime64 there).
    case x: java.sql.Date => "t" + x.toLocalDate.toEpochDay * 86400000000L
    case x: java.time.LocalDate => "t" + x.toEpochDay * 86400000000L
    case x: Array[Byte] => "x" + x.map(b => f"${b & 0xff}%02x").mkString
    case x: Row => x.toSeq.map(canon).mkString("r(", ElemSep, ")")
    case x: scala.collection.Map[_, _] =>
      x.toSeq.map { case (k, e) => canon(k) + "=" + canon(e) }.sorted.mkString("m{", ElemSep, "}")
    case x: scala.collection.Seq[_] => x.map(canon).mkString("a[", ElemSep, "]")
    case other => throw new IllegalArgumentException(s"no digest encoding for ${other.getClass}")
  }

  def rowHash(values: Seq[Any]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val h = md.digest(values.map(canon).mkString(ColSep).getBytes("UTF-8"))
    java.nio.ByteBuffer.wrap(h, 0, 8).getLong
  }

  def format(cols: Seq[String], rows: Long, sum: Long): String =
    s"${cols.mkString(",")}|$rows|${java.lang.Long.toUnsignedString(sum, 16)}"

  /** Digest of a local result (tests, and the driver-side models). */
  def ofRows(cols: Seq[String], rows: Seq[Seq[Any]]): String = {
    val order = cols.map(_.toLowerCase).zipWithIndex.sortBy(_._1)
    val sum = rows.foldLeft(0L)((acc, r) => acc + rowHash(order.map(o => r(o._2))))
    format(order.map(_._1), rows.size.toLong, sum)
  }

  /** A few canonical rows found on only one side, for mismatch reports. */
  def diff(cols: Seq[String], got: Seq[Seq[Any]], want: Seq[Seq[Any]]): String = {
    val order = cols.map(_.toLowerCase).zipWithIndex.sortBy(_._1).map(_._2)
    def canonRows(rs: Seq[Seq[Any]]) = rs.map(r => order.map(i => canon(r(i))).mkString(" | "))
    val (g, w) = (canonRows(got), canonRows(want))
    s"only in result: ${g.diff(w).take(2).mkString("; ")}; only expected: ${w.diff(g).take(2).mkString("; ")}"
  }

  /** Digest of a DataFrame, computed on the executors. */
  def of(df: DataFrame): String = {
    val order = df.columns.toSeq.map(c => (c.toLowerCase, c)).sortBy(_._1)
    val (n, sum) = df.select(order.map(o => df.col(o._2)): _*).rdd
      .mapPartitions { it =>
        var n = 0L
        var s = 0L
        it.foreach { r => n += 1; s += rowHash(r.toSeq) }
        Iterator((n, s))
      }
      .collect()
      .foldLeft((0L, 0L)) { case ((a, b), (c, d)) => (a + c, b + d) }
    format(order.map(_._1), n, sum)
  }
}
