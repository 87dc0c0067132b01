package perfbench

import org.apache.spark.sql.Row

/** Source-independent form of an API answer, for comparing answers.
  *
  * Integers of any width become Long, floats Double, timestamps their
  * `yyyy-MM-dd HH:mm:ss` UTC text (the form the SQLite fixture stores), rows,
  * tuples and sequences Vectors, and maps Vectors of pairs sorted by key.
  * Doubles compare with a relative tolerance: a recomputed floating-point sum
  * may add its partial sums in another order.
  */
object Canon {
  private val tsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss").withZone(java.time.ZoneOffset.UTC)

  def of(v: Any): Any = v match {
    case null => null
    case x: Byte => x.toLong
    case x: Short => x.toLong
    case x: Int => x.toLong
    case x: Long => x
    case x: Float => x.toDouble
    case x: Double => x
    case x: java.math.BigDecimal => x.doubleValue
    case x: BigDecimal => x.toDouble
    case x: java.sql.Timestamp => tsFmt.format(x.toInstant)
    case x: java.time.Instant => tsFmt.format(x)
    case x: java.time.LocalDateTime => tsFmt.format(x.toInstant(java.time.ZoneOffset.UTC))
    case x: java.sql.Date => x.toString
    case x: java.time.LocalDate => x.toString
    case x: String => x
    case r: Row => r.toSeq.map(of).toVector
    case m: scala.collection.Map[_, _] =>
      m.toVector.map { case (k, x) => Vector(of(k), of(x)) }.sortBy(p => String.valueOf(p(0)))
    case s: Iterable[_] => s.map(of).toVector
    case a: Array[_] => a.toVector.map(of)
    case p: Product => p.productIterator.map(of).toVector
    case other => other.toString
  }

  /** `of(v)` with the top-level sequence sorted: for answers whose row order
    * the API leaves open.
    */
  def unordered(v: Any): Any = of(v) match {
    case xs: Vector[_] => xs.sortBy(x => String.valueOf(x))
    case x => x
  }

  def same(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) =>
      (x.isNaN && y.isNaN) || x == y ||
        math.abs(x - y) <= 1e-9 * math.max(1.0, math.max(math.abs(x), math.abs(y)))
    case (x: Double, y: Long) => same(x, y.toDouble)
    case (x: Long, y: Double) => same(x.toDouble, y)
    case (xs: Vector[_], ys: Vector[_]) =>
      xs.length == ys.length && xs.indices.forall(i => same(xs(i), ys(i)))
    case _ => a == b
  }
}

/** Minimal JSON writer for the run record. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.result()
  }

  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
