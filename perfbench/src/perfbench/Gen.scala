package perfbench

import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators. Every table, store and batch is a pure
  * function of (seed, size), built on the driver with
  * `java.util.Random`, so the same seed gives byte-identical inputs
  * whatever the Spark partitioning.
  *
  * The star-schema tables mirror the shapes and value domains of the
  * engine's reference test data (TPC-H-like keys, 30-word document
  * vocabulary with ~5% " dup"-suffixed near copies, 64-d unit
  * embeddings with 10 weak label clusters) so every registered query
  * runs unchanged on them.
  */
object Gen {

  /** Hex SHA-256 over the string forms of generated values — the
    * inputs fingerprint a run prints, so a test can see that the seed
    * (and only the seed) decides the inputs.
    */
  def digest(values: Iterator[Any]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    values.foreach(v => md.update(String.valueOf(v).getBytes("UTF-8")))
    md.digest().take(8).map(b => f"$b%02x").mkString
  }

  def rng(seed: Long, salt: String): java.util.Random =
    new java.util.Random(seed * 0x9e3779b97f4a7c15L ^ salt.hashCode.toLong)

  /** The document vocabulary of the reference data. */
  val Words: IndexedSeq[String] = ("a the join hash row batch scan column customer " +
    "filter small slow merge order vector line table data agg value key " +
    "stream window spark part group big sort query fast").split(" ").toIndexedSeq

  private val Langs = IndexedSeq("en" -> 0.44, "zh" -> 0.15, "es" -> 0.14,
    "de" -> 0.14, "fr" -> 0.13)

  private def pickLang(r: java.util.Random): String = {
    var u = r.nextDouble()
    Langs.find { case (_, p) => u -= p; u < 0 }.getOrElse(Langs.head)._1
  }

  def randomText(r: java.util.Random, vocab: IndexedSeq[String],
      minWords: Int, maxWords: Int): String =
    Seq.fill(minWords + r.nextInt(maxWords - minWords + 1))(
      vocab(r.nextInt(vocab.size))).mkString(" ")

  private def write(spark: SparkSession, dir: String, name: String,
      schema: StructType, rows: Seq[Row], md: java.security.MessageDigest): Unit = {
    rows.foreach(r => md.update(r.toString.getBytes("UTF-8")))
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.parquet(s"$dir/$name.parquet")
  }

  private def f(name: String, t: DataType) = StructField(name, t, nullable = true)

  private def money(r: java.util.Random, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** All query-mix tables at scale factor `sf` under `dir`; returns
    * the inputs fingerprint.
    */
  def tables(spark: SparkSession, dir: String, seed: Long, sf: Double): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val nCust = (150000 * sf).toInt.max(50)
    val nSupp = (10000 * sf).toInt.max(10)
    val nPart = (200000 * sf).toInt.max(50)
    val nOrd = (1500000 * sf).toInt.max(200)
    val nLine = (6000000 * sf).toInt.max(800)
    val nEvents = (1000000 * sf).toInt.max(500)
    val nDocs = (50000 * sf).toInt.max(100)
    val nVecs = 500
    val nUsers = (15000 * sf).toInt.max(20)
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    write(spark, dir, "region",
      StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
      Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex
        .map { case (n, i) => Row(i, n) }, md)
    write(spark, dir, "nation",
      StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)), md)

    val segs = IndexedSeq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    val rc = rng(seed, "customer")
    write(spark, dir, "customer",
      StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType),
        f("c_mktsegment", StringType))),
      (0 until nCust).map(i => Row(i.toLong, f"Customer#$i%09d", rc.nextInt(25),
        money(rc, -999.99, 9999.99), segs(rc.nextInt(5)))), md)

    val rs = rng(seed, "supplier")
    write(spark, dir, "supplier",
      StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
      (0 until nSupp).map(i => Row(i.toLong, f"Supplier#$i%09d", rs.nextInt(25),
        money(rs, -999.99, 9999.99))), md)

    val adj = IndexedSeq("small", "large", "red", "blue", "hot", "old", "new", "green")
    val noun = IndexedSeq("ring", "widget", "bolt", "gear", "plate", "rod", "nut", "pipe")
    val types = IndexedSeq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
    val rp = rng(seed, "part")
    write(spark, dir, "part",
      StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
      (0 until nPart).map(i => Row(i.toLong,
        s"${adj(rp.nextInt(8))} ${noun(rp.nextInt(8))}", s"Brand#${1 + rp.nextInt(25)}",
        types(rp.nextInt(6)), 1 + rp.nextInt(50), 900.0 + (i % 1000) / 10.0)), md)

    val prios = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    val ro = rng(seed, "orders")
    write(spark, dir, "orders",
      StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
      (0 until nOrd).map(i => Row(i.toLong, ro.nextInt(nCust).toLong,
        IndexedSeq("F", "O", "P")(ro.nextInt(3)), money(ro, 1000, 500000),
        day0.plusDays(ro.nextInt(2400)), prios(ro.nextInt(5)))), md)

    val rl = rng(seed, "lineitem")
    write(spark, dir, "lineitem",
      StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType),
        f("l_quantity", DoubleType), f("l_extendedprice", DoubleType),
        f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType),
        f("l_shipdate", TimestampNTZType))),
      (0 until nLine).map { _ =>
        val q = 1 + rl.nextInt(50)
        Row(rl.nextInt(nOrd).toLong, rl.nextInt(nPart).toLong, rl.nextInt(nSupp).toLong,
          1 + rl.nextInt(7), q.toDouble, money(rl, 900, 2100) * q,
          rl.nextInt(11) / 100.0, rl.nextInt(9) / 100.0,
          IndexedSeq("A", "N", "R")(rl.nextInt(3)), IndexedSeq("F", "O")(rl.nextInt(2)),
          day0.plusDays(1 + rl.nextInt(2500)))
      }, md)

    val evTypes = IndexedSeq("click", "view", "purchase", "signup", "error")
    val re = rng(seed, "events")
    val evStart = LocalDateTime.of(2024, 1, 1, 0, 0)
    val stepMicros = 30L * 86400L * 1000000L / nEvents
    write(spark, dir, "events",
      StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
      (0 until nEvents).map(i => Row(i.toLong,
        evStart.plusNanos((i * stepMicros + (re.nextDouble() * stepMicros).toLong) * 1000L),
        re.nextInt(nUsers).toLong, evTypes(re.nextInt(5)),
        math.round(-math.log(1 - re.nextDouble()) * 2000) / 100.0 + 0.01,
        s"""{"k": ${re.nextInt(100)}}""")), md)

    val rd = rng(seed, "documents")
    val texts = scala.collection.mutable.ArrayBuffer[String]()
    val docRows = (0 until nDocs).map { i =>
      val text =
        if (i > 20 && rd.nextDouble() < 0.05) texts(rd.nextInt(i)) + " dup"
        else randomText(rd, Words, 10, 99)
      texts += text
      Row(i.toLong, text, pickLang(rd), s"src${i % 20}", text.length.toLong)
    }
    write(spark, dir, "documents",
      StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
        f("source", StringType), f("n_chars", LongType))), docRows, md)

    val rv = rng(seed, "embeddings")
    val centers = Array.fill(10, 64)(rv.nextGaussian())
    write(spark, dir, "embeddings",
      StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType, containsNull = true)), f("label", IntegerType))),
      (0 until nVecs).map { i =>
        val label = rv.nextInt(10)
        val v = Array.tabulate(64)(d => rv.nextGaussian() + 0.15 * centers(label)(d))
        val n = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / n).toFloat).toSeq, label)
      }, md)
    md.digest().take(8).map(b => f"$b%02x").mkString
  }
}
