package lakebench

import java.io.File
import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The tables `graft.SparkEntry.queries` read (region, nation, customer,
  * supplier, part, orders, lineitem, events, documents, embeddings), one
  * single-row-group parquet file each, with the schemas and value domains
  * of the engine's test fixtures at their smallest scale. Generation is a
  * pure function of the seed. */
object Fixtures {
  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  private val Words = Array("the", "a", "fast", "slow", "big", "small", "key", "order",
    "sort", "table", "scan", "merge", "part", "window", "hash", "join", "batch", "stream",
    "spark", "group", "query", "row", "data", "filter", "customer", "line", "value", "agg",
    "column", "vector")
  private val Langs = Array("en", "en", "en", "de", "es", "fr", "zh")

  def write(spark: SparkSession, dir: String, seed: Long): Unit = {
    val rnd = new java.util.Random(seed)
    def pick[T](a: Array[T]): T = a(rnd.nextInt(a.length))
    def money(lo: Double, hi: Double): Double = math.round((lo + rnd.nextDouble() * (hi - lo)) * 100.0) / 100.0
    def day(from: LocalDateTime, days: Int): LocalDateTime = from.plusDays(rnd.nextInt(days).toLong)
    import spark.implicits._

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
      .map { case (n, i) => (i, n) }.toDF("r_regionkey", "r_name")
    val nations = (0 until 25).map(i => (i, s"NATION_$i", i % 5))
      .toDF("n_nationkey", "n_name", "n_regionkey")
    val segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val customers = (0L until 150L).map(i => (i, f"Customer#$i%09d", rnd.nextInt(25),
      money(-999.99, 9999.99), pick(segments)))
      .toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment")
    val suppliers = (0L until 10L).map(i => (i, f"Supplier#$i%09d", rnd.nextInt(25),
      money(-999.99, 9999.99))).toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal")
    val adjectives = Array("cold", "small", "large", "bright", "dark", "smooth", "heavy", "light")
    val nouns = Array("widget", "bolt", "gear", "panel", "valve", "spring", "cable", "frame")
    val types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val parts = (0L until 200L).map(i => (i, s"${pick(adjectives)} ${pick(nouns)}",
      s"Brand#${1 + rnd.nextInt(25)}", pick(types), 1 + rnd.nextInt(50), 900.0 + i / 10.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
    val d1995 = LocalDateTime.parse("1995-01-01T00:00:00")
    val priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val orderDates = (0 until 1500).map(_ => day(d1995, 2404))
    val orders = (0 until 1500).map(i => (i.toLong, rnd.nextInt(150).toLong,
      pick(Array("F", "O", "P")), money(1000.0, 450000.0), orderDates(i), pick(priorities)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice", "o_orderdate",
        "o_orderpriority")
    val lineitems = (0 until 6000).map { _ =>
      val o = rnd.nextInt(1500)
      val qty = (1 + rnd.nextInt(50)).toDouble
      (o.toLong, rnd.nextInt(200).toLong, rnd.nextInt(10).toLong, 1 + rnd.nextInt(7), qty,
        money(qty * 900.0, qty * 2100.0), rnd.nextInt(11) / 100.0, rnd.nextInt(9) / 100.0,
        pick(Array("A", "N", "R")), pick(Array("O", "F")),
        orderDates(o).plusDays(1L + rnd.nextInt(120)))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    val jan = LocalDateTime.parse("2024-01-01T00:00:00")
    val eventTypes = Array("signup", "click", "error", "purchase", "view")
    val eventTimes = (0 until 1000).map(_ => rnd.nextDouble() * 30 * 86400e6).sorted
    val events = eventTimes.zipWithIndex.map { case (us, i) =>
      (i.toLong, jan.plusNanos(us.toLong * 1000L), rnd.nextInt(15).toLong, pick(eventTypes),
        math.round(-math.log(1.0 - rnd.nextDouble()) * 6000.0) / 100.0,
        s"""{"k": ${rnd.nextInt(100)}}""")
    }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")

    // documents: random word text, with exact and near copies of earlier
    // documents so the dedup and similarity operators find pairs
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    (0 until 500).foreach { i =>
      val r = rnd.nextDouble()
      val t =
        if (i > 20 && r < 0.05) texts(rnd.nextInt(i))
        else if (i > 20 && r < 0.15) {
          val w = texts(rnd.nextInt(i)).split(' ')
          (0 until 1 + rnd.nextInt(3)).foreach(_ => w(rnd.nextInt(w.length)) = pick(Words))
          w.mkString(" ")
        } else (0 until 8 + rnd.nextInt(80)).map(_ => pick(Words)).mkString(" ")
      texts += t
    }
    val documents = texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, pick(Langs), s"src${rnd.nextInt(20)}", t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")

    // embeddings: 64-d float vectors around one centre per label, a few
    // near-copies of earlier vectors
    val centres = Array.fill(10, 64)(rnd.nextGaussian() * 0.1)
    val vecs = scala.collection.mutable.ArrayBuffer.empty[(Array[Float], Int)]
    (0 until 500).foreach { i =>
      if (i > 20 && rnd.nextDouble() < 0.05) {
        val (v, l) = vecs(rnd.nextInt(i))
        vecs += ((v.map(x => (x + rnd.nextGaussian() * 0.002).toFloat), l))
      } else {
        val l = rnd.nextInt(10)
        vecs += ((centres(l).map(c => (c + rnd.nextGaussian() * 0.1).toFloat), l))
      }
    }
    val embeddings = vecs.zipWithIndex.map { case ((v, l), i) => (i.toLong, v.toSeq, l) }
      .toSeq.toDF("vec_id", "embedding", "label")

    val all = Seq("region" -> regions, "nation" -> nations, "customer" -> customers,
      "supplier" -> suppliers, "part" -> parts, "orders" -> orders, "lineitem" -> lineitems,
      "events" -> events, "documents" -> documents, "embeddings" -> embeddings)
    all.foreach { case (name, df) => single(df, s"$dir/$name.parquet", s"$dir/_$name") }
  }

  /** Writes `df` as one parquet file at exactly `path`. */
  private def single(df: DataFrame, path: String, staging: String): Unit = {
    df.coalesce(1).write.mode("overwrite").parquet(staging)
    val part = new File(staging).listFiles().filter(f =>
      f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    require(part.length == 1, s"expected one parquet file under $staging")
    require(part.head.renameTo(new File(path)), s"could not move $path")
    Fs.delete(staging)
  }
}
