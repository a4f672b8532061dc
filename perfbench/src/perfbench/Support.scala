package perfbench

import java.security.MessageDigest

import org.apache.spark.sql.Row

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Iterable[(Long, Long)]): Long = {
    var total, curS, curE = 0L
    var open = false
    iv.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (!open || s > curE) {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      } else curE = math.max(curE, e)
    }
    if (open) total += curE - curS
    total
  }
}

/** Minimal JSON writer: numbers, strings, booleans, null, maps and seqs. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case Raw(j) => j
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  final case class Raw(json: String)
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => str(k) + ":" + value(x) }.mkString("{", ",", "}")
  def arr(items: Seq[String]): Raw = Raw(items.mkString("[", ",", "]"))
}

/** Order-insensitive digest of a result, equal for the Spark output and
  * the DuckDB oracle's parquet when their cells are equal: columns in name
  * order, rows sorted, numbers compared by value across integer, decimal
  * and floating types, NaN equal to null (the rules of the repo's own
  * oracle check, `tools/check_oracle.py`).
  */
object Canon {
  private val exactLimit = 9007199254740992.0 // 2^53

  def cell(v: Any): String = v match {
    case null => "null"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case l: Long => if (math.abs(l.toDouble) < exactLimit) l.toString else "L" + l
    case b: java.math.BigDecimal => decimal(b)
    case n: java.lang.Number => cell(n.longValue)
    case t: java.sql.Timestamp =>
      "T" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.LocalDateTime =>
      val i = t.toInstant(java.time.ZoneOffset.UTC)
      "T" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case d: java.sql.Date => "D" + d.toLocalDate
    case d: java.time.LocalDate => "D" + d
    case s: String => "s" + s
    case b: Boolean => b.toString
    case a: Array[Byte] => a.map("%02x".format(_)).mkString("x", "", "")
    case r: Row => row(r)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => cell(k) + "=" + cell(x) }.toSeq.sorted.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(cell).mkString("[", ",", "]")
    case other => "?" + other
  }

  private def num(d: Double): String =
    if (d.isNaN) "null"
    else if (d == math.rint(d) && math.abs(d) < exactLimit) d.toLong.toString
    else java.lang.Double.toString(d)

  private def decimal(b: java.math.BigDecimal): String = {
    val s = b.stripTrailingZeros
    if (s.scale <= 0 && s.abs.compareTo(new java.math.BigDecimal(exactLimit)) < 0)
      s.longValueExact.toString
    else if (s.scale <= 0) "L" + s.toBigInteger
    else num(s.doubleValue)
  }

  def row(r: Row): String = {
    val names = Option(r.schema).map(_.fieldNames.toSeq)
      .getOrElse((0 until r.length).map(_.toString))
    names.zipWithIndex.sortBy(_._1).map { case (_, i) => cell(r.get(i)) }
      .mkString("(", "\u0001", ")")
  }

  /** `<rows>:<hex>`: the row count and a truncated SHA-256 over the column
    * names and the sorted canonical rows.
    */
  def digest(rows: Array[Row], columns: Seq[String]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(columns.sorted.mkString(",").getBytes("UTF-8"))
    rows.map(row).sorted.foreach(s => md.update((s + "\n").getBytes("UTF-8")))
    s"${rows.length}:" + md.digest().take(12).map("%02x".format(_)).mkString
  }
}
