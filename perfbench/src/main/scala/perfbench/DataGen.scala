package perfbench

import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic input tables for the batch workload, shaped like the
  * engine's scale-0.1 test tables (same schemas, row counts and value
  * ranges): the TPC-H-like star schema, `events`, `documents` (word-salad
  * text with near-duplicate copies) and `embeddings` (64-d vectors around
  * 10 labelled centroids).
  *
  * The tables depend only on the fixed generator seed and the fixed
  * partition count, never on the machine, so the expected checksums
  * committed next to this file hold everywhere. Each table is written as
  * one parquet file in `<dir>/<table>.parquet/`, which the engine's
  * `graft.Tables.load` reads as it reads the test tables. */
object DataGen {
  val Version = "v1"
  private val Parts = 8
  private val Seed = 42L

  private val vocab = ("batch part spark line column order small sort fast " +
    "value scan a hash slow group agg filter query big key window row table " +
    "stream merge data vector customer join the").split(" ")

  /** Generate every table into `dir` unless a previous run finished it. */
  def ensure(spark: SparkSession, dir: Path): Unit = {
    val done = dir.resolve(s"_DONE_$Version")
    if (Files.exists(done)) return
    Files.createDirectories(dir)
    tables.foreach { case (name, n, schema, gen) =>
      val rows = spark.sparkContext.parallelize(0 until Parts, Parts)
        .mapPartitionsWithIndex { (p, _) =>
          val r = new SplittableRandom(Seed * 1000 + name.hashCode * 31L + p)
          val from = n.toLong * p / Parts
          val until = n.toLong * (p + 1) / Parts
          (from until until).iterator.map(i => gen(i, r))
        }
      spark.createDataFrame(rows, schema).coalesce(1).write.mode("overwrite")
        .parquet(dir.resolve(s"$name.parquet").toString)
    }
    Files.writeString(done, "")
  }

  private def ts(epochMs: Long) = new java.sql.Timestamp(epochMs)
  private val day = 86400000L
  private val d1995 = java.time.LocalDate.parse("1995-01-01")
    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
  private val d2024 = java.time.LocalDate.parse("2024-01-01")
    .atStartOfDay(java.time.ZoneOffset.UTC).toInstant.toEpochMilli
  private def r2(x: Double) = math.round(x * 100) / 100.0
  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.length))

  private def words(r: SplittableRandom, n: Int): Array[String] =
    Array.fill(n)(vocab(r.nextInt(vocab.length)))

  /** Document text: fresh word salad, or (one doc in eight) a near copy
    * of an earlier document's text, regenerated from that document's own
    * random stream so the copy needs no shared state. */
  private def docWords(id: Long): Array[String] = {
    val r = new SplittableRandom(Seed * 7919 + id)
    words(r, 8 + r.nextInt(92))
  }
  private def docText(id: Long, r: SplittableRandom): String =
    if (id >= 50 && r.nextInt(8) == 0) {
      val base = docWords(id - 1 - r.nextInt(math.min(id, 500L).toInt))
      val edits = r.nextInt(4) // 0 edits = an exact duplicate
      (0 until edits).foreach(_ => base(r.nextInt(base.length)) = pick(r, vocab.toSeq))
      base.mkString(" ")
    } else docWords(id).mkString(" ")

  private def vec(label: Int, r: SplittableRandom): Array[Float] = {
    val c = new SplittableRandom(Seed + label)
    Array.fill(64)((c.nextGaussian() * 0.3 + r.nextGaussian() * 0.1).toFloat)
  }

  private type Gen = (Long, SplittableRandom) => Row
  private def f(n: String, t: DataType) = StructField(n, t)

  private val tables: Seq[(String, Int, StructType, Gen)] = Seq(
    ("region", 5, StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      (i, _) => Row(i.toInt, Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")(i.toInt))),
    ("nation", 25, StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
      f("n_regionkey", IntegerType))),
      (i, _) => Row(i.toInt, s"NATION_$i", (i % 5).toInt)),
    ("customer", 15000, StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
      f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
      (i, r) => Row(i, f"Customer#$i%09d", r.nextInt(25), r2(r.nextDouble(-999.99, 9999.99)),
        pick(r, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")))),
    ("supplier", 1000, StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
      f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (i, r) => Row(i, f"Supplier#$i%09d", r.nextInt(25), r2(r.nextDouble(-999.99, 9999.99)))),
    ("part", 20000, StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
      f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
      f("p_retailprice", DoubleType))),
      (i, r) => Row(i, s"${pick(r, Seq("large", "hot", "cold", "small", "bright"))} " +
        pick(r, Seq("ring", "bolt", "nut", "gear", "pipe")), s"Brand#${1 + r.nextInt(25)}",
        pick(r, Seq("LARGE", "ECONOMY", "STANDARD", "SMALL", "MEDIUM", "PROMO")),
        1 + r.nextInt(50), r2(900.0 + (i % 1000) / 10.0))),
    ("orders", 150000, StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
      f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
      f("o_orderdate", TimestampType), f("o_orderpriority", StringType))),
      (i, r) => Row(i, r.nextLong(15000), pick(r, Seq("O", "F", "P")),
        r2(r.nextDouble(1000.0, 500000.0)), ts(d1995 + r.nextLong(2404) * day),
        pick(r, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")))),
    ("lineitem", 600000, StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
      f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
      f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
      f("l_returnflag", StringType), f("l_linestatus", StringType),
      f("l_shipdate", TimestampType))),
      (_, r) => {
        val q = 1 + r.nextInt(50)
        Row(r.nextLong(150000), r.nextLong(20000), r.nextLong(1000),
          1 + r.nextInt(7),
          q.toDouble, r2(q * r.nextDouble(900.0, 2100.0)), r.nextInt(11) / 100.0,
          r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")), pick(r, Seq("O", "F")),
          ts(d1995 + r.nextLong(2499) * day))
      }),
    ("events", 100000, StructType(Seq(f("event_id", LongType), f("ts", TimestampType),
      f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
      f("props", StringType))),
      (i, r) => {
        val t = new java.sql.Timestamp(d2024 + r.nextLong(30 * day))
        t.setNanos(t.getNanos + r.nextInt(1000) * 1000)
        Row(i, t, r.nextLong(1500),
          pick(r, Seq("signup", "click", "error", "view", "purchase")),
          r2(math.min(-50.0 * math.log(1.0 - r.nextDouble()), 600.0)),
          s"""{"k": ${r.nextInt(100)}}""")
      }),
    ("documents", 5000, StructType(Seq(f("doc_id", LongType), f("text", StringType),
      f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
      (i, r) => {
        val text = docText(i, r)
        val u = r.nextInt(100)
        val lang = if (u < 40) "en" else Seq("fr", "zh", "de", "es")((u - 40) / 15)
        Row(i, text, lang, s"src${i % 20}", text.length.toLong)
      }),
    ("embeddings", 2000, StructType(Seq(f("vec_id", LongType),
      f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
      (i, r) => {
        val label = r.nextInt(10)
        Row(i, vec(label, r).toSeq, label)
      })
  )
}
