package perfbench

import org.apache.spark.sql.Row

/** Row-set equality for MWAS outputs: every field identical, except
  * doubles, which may differ by 1e-9 relative (NaN equals NaN). */
object Compare {
  val relTol = 1e-9

  /** Sorted by the contrast key: bioproject, group, field, value. */
  def sorted(rows: Seq[Row]): Seq[Row] =
    rows.sortBy(r => (0 until 4).map(i => String.valueOf(r.get(i)))
      .mkString("\u0001"))

  def close(a: Double, b: Double): Boolean =
    (a.isNaN && b.isNaN) || a == b ||
      math.abs(a - b) <= relTol * math.max(math.abs(a), math.abs(b))

  def fieldEq(a: Any, b: Any): Boolean = (a, b) match {
    case (x: Double, y: Double) => close(x, y)
    case (x: Number, y: Number) => x.longValue == y.longValue
    case _ => a == b
  }

  /** Differences between the expected and actual rows, at most five. */
  def rows(want: Seq[Row], got: Seq[Row]): Seq[String] =
    if (want.length != got.length)
      Seq(s"${want.length} rows expected, ${got.length} found")
    else want.zip(got).iterator.collect {
      case (w, g) if w.length != g.length ||
          (0 until w.length).exists(i => !fieldEq(w.get(i), g.get(i))) =>
        s"expected $w, found $g"
    }.take(5).toSeq
}
