package lakebench

/** Checks of the benchmark's own arithmetic that live on the JVM side:
  * the row digest must not depend on row order or partitioning, and must
  * change when one row does. Prints one line per case; exits non-zero on
  * a failure. */
object SelfTest {
  def run(): Unit = {
    val rnd = new java.util.Random(7)
    val rows = Seq.fill(1000)(rnd.nextLong()) ++ Seq.fill(5)(42L)
    val d = RowDigest.of(rows.iterator)
    val shuffled = RowDigest.of(new scala.util.Random(3).shuffle(rows).iterator)
    val split = rows.grouped(37).map(g => RowDigest.of(g.iterator)).foldLeft(RowDigest.empty)(_ + _)
    val changed = RowDigest.of((rows.updated(10, rows(10) + 1)).iterator)
    val dropped = RowDigest.of(rows.tail.iterator)
    val duplicate = RowDigest.of((rows :+ rows.head).iterator)
    val cases = Seq(
      "order_independent" -> (d == shuffled),
      "partition_independent" -> (d == split),
      "changed_row_detected" -> (d != changed),
      "dropped_row_detected" -> (d != dropped),
      "duplicate_row_detected" -> (d != duplicate))
    cases.foreach { case (n, ok) => println(s"${if (ok) "PASS" else "FAIL"} $n") }
    if (cases.exists(!_._2)) sys.exit(1)
  }
}
