package lakebench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Run context shared by the workloads. */
final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long, work: String) {
  def path(rel: String): String = s"$work/$rel"
}

/** A closed-loop workload: one client thread, each op starting after the
  * previous one returned. */
trait Workload {
  /** Builds the inputs from the seed, replacing those of an earlier
    * repetition; called once per repetition of set-up. */
  def prepare(ctx: Ctx): Unit
  /** The untimed warm-up op(s), after the last preparation. */
  def warmup(ctx: Ctx): Unit
  /** Runs the next op; false when the prepared inputs are used up. */
  def step(ctx: Ctx): Boolean
  /** Output checks after the timed phase: (name, ok, detail). */
  def check(ctx: Ctx): Seq[(String, Boolean, String)]
  /** Workload facts for the runner (rows, bytes stored, ...). */
  def facts(ctx: Ctx): Map[String, Any]
}

object Main {
  /** Set-up repetitions per run; `setup_s` reports their median. */
  val SetupReps = 3

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opt.get("selftest").contains("1")) { SelfTest.run(); return }
    // writes the query-suite fixtures and stops: the input to recording and
    // oracle-checking the expected digests
    opt.get("fixtures").foreach { dir =>
      val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC").getOrCreate()
      new File(dir).mkdirs()
      Fixtures.write(spark, dir, QuerySuiteWorkload.FixtureSeed)
      spark.stop()
      return
    }
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.get("trace").contains("1")
    val work = new File(opt("work")).getAbsolutePath
    val out = opt("out")

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val rec = new Recorder(traced)
    Host.sample(rec, "run_start")
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"lakebench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // the row digest hashes whole rows, map columns included
      .config("spark.sql.legacy.allowHashOnMapType", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.sources.GraftLocalFs.install(spark)
    val sessionS = (rec.now() - jvmStartMs) / 1000.0

    val sparkTrace = new SparkTrace
    if (traced) {
      spark.sparkContext.addSparkListener(sparkTrace)
      spark.listenerManager.register(sparkTrace)
    }

    val ctx = Ctx(spark, rec, seed, work)
    val wl: Workload = workload match {
      case "medallion" => new MedallionWorkload
      case "star_formats" => new StarFormatsWorkload
      case "query_suite" => new QuerySuiteWorkload(opt("queries"))
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }

    def timeS(body: => Unit): Double = { val a = rec.now(); body; (rec.now() - a) / 1000.0 }
    val prepS = (0 until SetupReps).map(_ => timeS(wl.prepare(ctx)))
    val warmupS = timeS(wl.warmup(ctx))
    Host.sample(rec, "timed_start")
    val gc = new GcWatch
    gc.start()
    val t0 = rec.now()
    val deadline = t0 + seconds * 1000.0
    var more = true
    while (more && rec.now() < deadline) more = wl.step(ctx)
    val t1 = rec.now()
    val (gcS, heapPeakMb, heapLiveMb) = gc.stop()
    Host.sample(rec, "timed_end")

    val checks = wl.check(ctx)
    val facts = wl.facts(ctx)
    org.apache.spark.LakebenchBus.drain(spark.sparkContext)
    val checkS = (rec.now() - t1) / 1000.0

    val raw = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
      "cpus" -> cpus,
      "setup" -> Map("session_s" -> sessionS,
        "prep_s" -> prepS, "warmup_s" -> warmupS),
      "timed" -> Map("t0" -> t0, "t1" -> t1, "inputs_exhausted" -> !more, "check_s" -> checkS),
      "jvm" -> Map("gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb, "heap_live_mb" -> heapLiveMb),
      "spans" -> rec.spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "op" -> s.op,
        "name" -> s.name, "t0" -> s.t0, "t1" -> s.t1, "attrs" -> s.attrs)),
      "host" -> rec.host,
      "counters" -> rec.counters,
      "checks" -> checks.map { case (n, ok, d) => Map("name" -> n, "ok" -> ok, "detail" -> d) },
      "facts" -> facts,
      "jobs" -> sparkTrace.jobs.asScala.toSeq,
      "stages" -> sparkTrace.stages.asScala.toSeq,
      "queries" -> sparkTrace.queries.asScala.toSeq)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), Json.value(raw))
    spark.stop()
  }
}

/** Byte accounting seen from the filesystem. */
object Fs {
  /** path -> (size, mtime) of every regular file under `root`. */
  def files(root: String): Map[String, (Long, Long)] = {
    val r = new File(root)
    if (!r.exists()) Map.empty
    else {
      val b = Map.newBuilder[String, (Long, Long)]
      def walk(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
        else b += f.getPath -> (f.length(), f.lastModified())
      walk(r)
      b.result()
    }
  }

  def bytes(root: String): Long = files(root).values.map(_._1).sum

  /** Bytes in files that are new or changed between two listings. */
  def written(before: Map[String, (Long, Long)], after: Map[String, (Long, Long)]): Long =
    after.collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum

  def delete(root: String): Unit = {
    def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete()
    }
    rm(new File(root))
  }
}
