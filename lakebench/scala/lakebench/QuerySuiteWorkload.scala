package lakebench

import scala.io.Source

import graft.SparkEntry

/** `graft.SparkEntry.queries` outside the catalog family, in an order
  * shuffled by the seed, each executed through [[HashSink]] (which, like
  * `noop`, executes the whole plan) and its row digest compared with the
  * digest recorded for it. On single-row-group inputs this load is
  * Catalyst planning, per-job driver cost and operator CPU; table-format
  * and write paths do almost none of it.
  *
  * The query list is a file of `name module digest` lines; the fixtures
  * come from a fixed seed so that the recorded digests hold for every run
  * seed, and the run seed decides only the order. */
final class QuerySuiteWorkload(listFile: String) extends Workload {
  import QuerySuiteWorkload._

  private val entries: Seq[(String, String, String)] = {
    val src = Source.fromFile(listFile)
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map(_.split("\\s+")).map(a => (a(0), a(1), a.lift(2).getOrElse(""))).toList
    finally src.close()
  }
  private var order: IndexedSeq[(String, String, String)] = IndexedSeq.empty
  private var next = 0
  private var passes = 0
  private var rnd = new scala.util.Random(0L)

  private def fixtures(ctx: Ctx) = ctx.path("fixtures")

  override def prepare(ctx: Ctx): Unit = {
    Fs.delete(fixtures(ctx))
    new java.io.File(fixtures(ctx)).mkdirs()
    Fixtures.write(ctx.spark, fixtures(ctx), FixtureSeed)
  }

  /** One untimed pass, so timed queries run with classes loaded and their
    * generated code compiled, as they would in a long-lived session. */
  override def warmup(ctx: Ctx): Unit = {
    entries.foreach { case (q, _, _) => HashSink.run(SparkEntry.queries(q)(ctx.spark, fixtures(ctx))) }
    rnd = new scala.util.Random(ctx.seed)
    next = entries.size
  }

  /** Passes over the suite, each in a fresh seed-driven order, until the
    * run's time is up. */
  override def step(ctx: Ctx): Boolean = {
    if (next >= order.size) {
      order = rnd.shuffle(entries).toIndexedSeq
      next = 0
      passes += 1
    }
    val (name, module, want) = order(next)
    ctx.rec.op("query", "query" -> name, "module" -> module, "pass" -> passes) { op =>
      val fn = SparkEntry.queries(name)
      val got = ctx.rec.span(s"suite.$module") { HashSink.run(fn(ctx.spark, fixtures(ctx))) }
      op.attrs("digest") = got.toString
      if (want.nonEmpty && got.toString != want) op.attrs("ok") = false
    }
    next += 1
    true
  }

  override def check(ctx: Ctx): Seq[(String, Boolean, String)] = {
    val done = ctx.rec.ops.filter(_.name == "query")
    val wrong = done.filter(o => o.attrs.get("ok").contains(false)).map(_.attrs("query"))
    Seq(("queries.digests", wrong.isEmpty,
      s"checked=${done.size} wrong=${wrong.mkString(",")}"))
  }

  override def facts(ctx: Ctx): Map[String, Any] = Map(
    "suite_size" -> entries.size,
    "passes" -> passes,
    "modules" -> entries.groupBy(_._2).map { case (m, qs) => m -> qs.size })
}

object QuerySuiteWorkload {
  val FixtureSeed = 42L
}
