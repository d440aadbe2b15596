package graft.perfbench

import java.sql.Timestamp

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Seeded input generators. Every value is a pure function of
  * (seed, row id), so the same seed writes the same tables whatever
  * the partitioning. The star tables carry the column names and types
  * of `examples/tpch_model.yaml`'s sources; the document and vector
  * tables carry the shapes the two pipeline YAMLs read. */
object Gen {

  /** Uniform long hash of (seed, salt, cols). */
  private def h(seed: Long, salt: Int, cols: Column*): Column =
    xxhash64((lit(seed) +: lit(salt) +: cols): _*)

  private def pick(seed: Long, salt: Int, id: Column, n: Long): Column =
    pmod(h(seed, salt, id), lit(n))

  private def money(seed: Long, salt: Int, id: Column, max: Long): Column =
    (pmod(h(seed, salt, id), lit(max * 100)) / 100.0).cast(DoubleType)

  private def oneOf(seed: Long, salt: Int, id: Column, xs: String*): Column =
    element_at(array(xs.map(lit): _*), (pick(seed, salt, id, xs.size.toLong) + 1).cast(IntegerType))

  /** TPC-H-shaped customer/orders/lineitem. Order dates are uniform
    * over `[start, start + days)`; each order has 1..7 lines shipped
    * 0..`shipLagDays`-1 whole days (plus a random time of day) after
    * the order. Returns the number of rows written per table. */
  def star(spark: SparkSession, dir: String, seed: Long, nOrders: Long,
      start: Timestamp, days: Int, shipLagDays: Int): Map[String, Long] = {
    val nCust = math.max(50L, nOrders / 10)
    val startS = start.getTime / 1000
    val id = col("id")
    val customer = spark.range(1, nCust + 1).select(
      id.as("c_custkey"),
      concat(lit("Customer#"), id.cast(StringType)).as("c_name"),
      pick(seed, 1, id, 25).cast(IntegerType).as("c_nationkey"),
      money(seed, 2, id, 10000).as("c_acctbal"),
      oneOf(seed, 3, id, "AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
        .as("c_mktsegment"))
    val orders = spark.range(1, nOrders + 1).select(
      id.as("o_orderkey"),
      (pick(seed, 10, id, nCust) + 1).as("o_custkey"),
      oneOf(seed, 11, id, "F", "O", "P").as("o_orderstatus"),
      money(seed, 12, id, 100000).as("o_totalprice"),
      timestamp_seconds(lit(startS) + pick(seed, 13, id, days.toLong * 86400L)).as("o_orderdate"),
      oneOf(seed, 14, id, "1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
        .as("o_orderpriority"))
    val ok = col("o_orderkey")
    val lk = col("o_orderkey") * 8 + col("l_linenumber")
    val lineitem = orders
      .select(ok, col("o_orderdate"),
        explode(sequence(lit(1), (pick(seed, 20, ok, 7) + 1).cast(IntegerType))).as("l_linenumber"))
      .select(
        ok.as("l_orderkey"),
        (pick(seed, 21, lk, 2000) + 1).as("l_partkey"),
        (pick(seed, 22, lk, 100) + 1).as("l_suppkey"),
        col("l_linenumber"),
        (pick(seed, 23, lk, 50) + 1).cast(DoubleType).as("l_quantity"),
        money(seed, 24, lk, 10000).as("l_extendedprice"),
        (pick(seed, 25, lk, 11) / 100.0).as("l_discount"),
        (pick(seed, 26, lk, 9) / 100.0).as("l_tax"),
        oneOf(seed, 27, lk, "R", "A", "N").as("l_returnflag"),
        oneOf(seed, 28, lk, "O", "F").as("l_linestatus"),
        timestamp_seconds(unix_seconds(col("o_orderdate")) +
          pick(seed, 29, lk, shipLagDays.toLong) * 86400L +
          pick(seed, 30, lk, 86400L)).as("l_shipdate"))
    Seq("customer" -> customer, "orders" -> orders, "lineitem" -> lineitem).map {
      case (name, df) =>
        df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
        name -> spark.read.parquet(s"$dir/$name.parquet").count()
    }.toMap
  }

  private val words = Seq("spark", "star", "schema", "fact", "dim", "order", "line",
    "window", "batch", "stream", "join", "scan", "merge", "hash", "sort", "query",
    "table", "column", "row", "value", "key", "part", "group", "filter", "vector",
    "index", "night", "refresh", "store", "file", "commit", "swap", "check", "plan")
  private val boilerplate = (0 until 12).map(i =>
    s"copyright 2001 example corp notice $i all rights reserved")

  /** A document corpus with admission work in it: about 10% of the
    * documents repeat an earlier document's text exactly, about 10%
    * repeat it with one word changed, and about half carry a shared
    * boilerplate line. `night` is a seeded hash of `doc_id` in
    * `[0, nights)`. Columns: doc_id, text, lang, source, n_chars, night. */
  def documents(spark: SparkSession, seed: Long, n: Int, nights: Int): DataFrame = {
    val rnd = new scala.util.Random(seed)
    val texts = new Array[String](n)
    def fresh(): String = (0 until 3 + rnd.nextInt(4)).map { _ =>
      (0 until 6 + rnd.nextInt(8)).map(_ => words(rnd.nextInt(words.size))).mkString(" ")
    }.mkString("\n")
    for (i <- 0 until n) {
      val kind = rnd.nextInt(10)
      texts(i) =
        if (i > 0 && kind == 0) texts(rnd.nextInt(i))
        else if (i > 0 && kind == 1) {
          val ws = texts(rnd.nextInt(i)).split(" ")
          ws(rnd.nextInt(ws.length)) = s"w${rnd.nextInt(1000000)}"
          ws.mkString(" ")
        } else if (kind < 6) fresh() + "\n" + boilerplate(rnd.nextInt(boilerplate.size))
        else fresh()
    }
    val rows = texts.zipWithIndex.map { case (t, i) =>
      Row(i.toLong, t, Seq("en", "de", "fr")(i % 3), s"src${i % 7}", t.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows.toIndexedSeq, 4), schema)
      .withColumn("night", pmod(xxhash64(lit(seed), col("doc_id")), lit(nights.toLong)).cast(IntegerType))
  }

  /** Unit vectors near a low-dimensional subspace: a random linear
    * map of `latent`-dimensional Gaussian points plus a little noise,
    * normalised — so nearest neighbours are well separated, as in real
    * embeddings. Returns (vec_id, embedding). */
  def vectors(seed: Long, n: Int, dim: Int, latent: Int): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed)
    val a = Array.fill(dim, latent)(rnd.nextGaussian())
    (0 until n).map { i =>
      val z = Array.fill(latent)(rnd.nextGaussian())
      val v = a.map(row => row.indices.map(j => row(j) * z(j)).sum + 0.05 * rnd.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      i.toLong -> v.map(x => (x / norm).toFloat)
    }
  }
}
