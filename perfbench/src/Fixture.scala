package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic inputs, made from a seed so the same seed gives the same
  * bytes.
  *
  * `tables` writes the orders, lineitem, documents and embeddings
  * parquet tables that the `operators` queries read, with the column
  * names, types and value ranges of the repo's fixture tables (uniform
  * keys, 10..100-word documents over a 31-word vocabulary with planted
  * near-duplicates, 64-d embeddings around 10 label centres).
  *
  * `documents` makes the uploaded files of the document pipelines:
  * short business documents whose sentences answer some of the
  * prompt questions.
  */
object Fixture {

  private val vocab = Seq("a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order", "part",
    "query", "row", "scan", "slow", "small", "sort", "spark", "stream", "table", "the",
    "value", "vector", "window")

  private def arr(xs: Seq[String]): String = xs.map(x => s"'$x'").mkString("array(", ",", ")")

  /** Write the tables under `dir` at scale factor `sf`. */
  def tables(spark: SparkSession, dir: String, sf: Double, seed: Long): Unit = {
    def n(base: Double, min: Long): Long = math.max(min, math.round(base * sf))
    // key ranges of the customer, supplier and part tables
    val nCust = n(150000, 150)
    val nSupp = n(10000, 10)
    val nPart = n(200000, 200)
    val nOrders = n(1500000, 1500)
    val nDocs = n(50000, 50)
    val nEmb = math.max(200L, math.min(n(50000, 200), 2000L))
    // uniform [0, 1) and [0, m) draws keyed by (seed, column tag, row)
    def u(tag: String, id: String = "id"): String =
      s"(pmod(xxhash64(${seed}L, '$tag', $id), 1000000007L) / 1000000007.0D)"
    def k(tag: String, m: Long, id: String = "id"): String =
      s"pmod(xxhash64(${seed}L, '$tag', $id), ${m}L)"
    def pick(tag: String, xs: Seq[String], id: String = "id"): String =
      s"element_at(${arr(xs)}, cast(${k(tag, xs.size.toLong, id)} + 1 AS INT))"
    // the tables are independent: write them concurrently
    val writes = scala.collection.mutable.ArrayBuffer.empty[java.util.concurrent.Future[_]]
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    def write(name: String, df: => DataFrame): Unit = writes += pool.submit(new Runnable {
      def run(): Unit = df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$name.parquet")
    })
    val day = 86400L
    val epoch1995 = 788918400L

    val orders = spark.range(nOrders).selectExpr("id AS o_orderkey",
      s"${k("o_cust", nCust)} AS o_custkey",
      s"${pick("o_status", Seq("F", "O", "P"))} AS o_orderstatus",
      s"round(1000 + ${u("o_price")} * 499000, 2) AS o_totalprice",
      s"cast(timestamp_seconds($epoch1995 + ${k("o_date", 2404)} * $day) AS TIMESTAMP_NTZ) AS o_orderdate",
      s"${pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} AS o_orderpriority")
    write("orders", orders)
    write("lineitem", orders
      .selectExpr("o_orderkey", "o_orderdate",
        s"explode(sequence(1, cast(1 + ${k("l_n1", 4, "o_orderkey")} + ${k("l_n2", 4, "o_orderkey")} AS INT))) AS ln")
      .selectExpr("o_orderkey AS l_orderkey",
        s"${k("l_part", nPart, "o_orderkey * 16 + ln")} AS l_partkey",
        s"${k("l_supp", nSupp, "o_orderkey * 16 + ln")} AS l_suppkey",
        "ln AS l_linenumber",
        s"cast(${k("l_qty", 50, "o_orderkey * 16 + ln")} + 1 AS DOUBLE) AS l_quantity",
        s"round(901.82 + ${u("l_price", "o_orderkey * 16 + ln")} * 104096, 2) AS l_extendedprice",
        s"${k("l_disc", 11, "o_orderkey * 16 + ln")} / 100.0D AS l_discount",
        s"${k("l_tax", 9, "o_orderkey * 16 + ln")} / 100.0D AS l_tax",
        s"${pick("l_rf", Seq("A", "N", "R"), "o_orderkey * 16 + ln")} AS l_returnflag",
        s"${pick("l_ls", Seq("F", "O"), "o_orderkey * 16 + ln")} AS l_linestatus",
        s"o_orderdate + make_interval(0, 0, 0, cast(${k("l_ship", 121, "o_orderkey * 16 + ln")} + 1 AS INT)) AS l_shipdate"))
    // every tenth document repeats its predecessor with one word
    // replaced by "dup", so the near-duplicate operators find pairs
    write("documents", spark.range(nDocs)
      .selectExpr("id AS doc_id", "if(id % 10 = 9, id - 1, id) AS base")
      .selectExpr("doc_id",
        s"concat_ws(' ', transform(sequence(1, cast(10 + ${k("d_len", 91, "base")} AS INT)), " +
          s"i -> if(doc_id != base AND i = 1, 'dup', " +
          s"element_at(${arr(vocab)}, cast(${k("d_word", vocab.size.toLong, "base * 128 + i")} + 1 AS INT))))) AS text",
        s"element_at(array('en','en','en','fr','es','zh','de'), cast(${k("d_lang", 7, "doc_id")} + 1 AS INT)) AS lang",
        "concat('src', doc_id % 20) AS source")
      .withColumn("n_chars", length(col("text")).cast("long")))
    write("embeddings", spark.range(nEmb)
      .selectExpr("id AS vec_id", s"cast(${k("e_label", 10)} AS INT) AS label")
      .selectExpr("vec_id",
        s"transform(sequence(0, 63), j -> cast((${u("e_c", "label * 64 + j")} - 0.5) * 0.4 + " +
          s"(${u("e_n", "vec_id * 64 + j")} - 0.5) * 0.2 AS FLOAT)) AS embedding",
        "label"))
    try writes.foreach(_.get()) finally pool.shutdown()
  }

  private val parties = Array("Acme", "Globex", "Initech", "Umbrella", "Stark", "Wayne", "Hooli")
  private val kinds = Array("Invoice", "Contract", "Report", "Letter", "Form")
  private val filler = Array("Payment is due within thirty days.", "Please retain this copy.",
    "All amounts are in USD.", "Terms and conditions apply.", "Questions go to the billing desk.",
    "This document was generated automatically.", "Delivery follows within two weeks.")

  /** `n` documents for upload, chosen and ordered by `seed`. */
  def documents(n: Int, seed: Long): IndexedSeq[(String, Array[Byte])] = {
    val r = new scala.util.Random(seed)
    (0 until n).map { i =>
      val kind = kinds(r.nextInt(kinds.length))
      val id = r.nextInt(100000)
      val s = new StringBuilder
      s ++= s"$kind ${kind.take(3).toUpperCase}-$id title: ${parties(r.nextInt(parties.length))} ${kind.toLowerCase} $id. "
      if (r.nextBoolean()) s ++= s"The date is 20${10 + r.nextInt(15)}-0${1 + r.nextInt(9)}-1${r.nextInt(10)}. "
      if (r.nextBoolean()) s ++= s"The main party is ${parties(r.nextInt(parties.length))} Corp. "
      (0 until 2 + r.nextInt(8)).foreach(_ => s ++= filler(r.nextInt(filler.length)) + " ")
      s ++= s"Total amount ${r.nextInt(100000)}.${r.nextInt(100)}."
      (f"doc_${seed}%d_$i%05d.txt", s.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }
  }
}
