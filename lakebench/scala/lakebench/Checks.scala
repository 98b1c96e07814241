package lakebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Result comparison shared by the workloads. */
object Checks {
  /** Multiset equality of two results with the same columns, by their
    * row digests. */
  def sameRows(name: String, got: DataFrame, want: DataFrame): (String, Boolean, String) =
    scala.util.Try {
      val (g, w) = (HashSink.run(got), HashSink.run(want))
      (g == w, s"rows=${g.rows} expected_rows=${w.rows} digest=$g expected=$w")
    }.fold(e => (name, false, s"error: ${e.getMessage}"), { case (ok, d) => (name, ok, d) })

  /** Same keys, and every other column equal, numbers within a relative
    * 1e-9: aggregates of doubles differ in their last bits with the order
    * rows are summed in. */
  def close(name: String, got: DataFrame, want: DataFrame, keys: Seq[String]): (String, Boolean, String) =
    scala.util.Try {
      val values = want.columns.filterNot(keys.contains).toSeq
      val g = got.select((keys ++ values).map(c => col(c).as(s"g_$c")): _*)
      val w = want.select((keys ++ values).map(c => col(c).as(s"w_$c")): _*)
      val on = keys.map(k => col(s"g_$k") <=> col(s"w_$k")).reduce(_ && _)
      val numeric = want.schema.filter(f => values.contains(f.name)).map(f =>
        f.name -> f.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]).toMap
      val same = values.map { c =>
        val (a, b) = (col(s"g_$c"), col(s"w_$c"))
        if (numeric(c)) (a.isNull && b.isNull) ||
          abs(a.cast("double") - b.cast("double")) <= greatest(lit(1.0), abs(b.cast("double"))) * 1e-9
        else a <=> b
      }.foldLeft(lit(true))(_ && _)
      val joined = g.join(w, on, "full_outer")
      val bad = joined.where(!coalesce(same, lit(false))).count()
      (bad == 0, s"mismatched_rows=$bad")
    }.fold(e => (name, false, s"error: ${e.getMessage}"), { case (ok, d) => (name, ok, d) })
}
