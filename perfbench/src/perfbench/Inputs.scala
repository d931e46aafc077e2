package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark's own inputs.
  *
  * `fixed` writes the ten tables of graft's test-data schema for
  * `stream_ingest` and `batch_query`. It is the same xxhash64 expression
  * generator as graft's scale DataGen, owned here so that a change to
  * graft's tools cannot move the inputs under the committed result
  * fingerprints.
  * Every value is a function of the row id, so the tables are identical
  * on every run and at any parallelism.
  *
  * `storeBatches` makes the `state_store` input from the seed: events
  * drawn with a seeded generator and dealt to batches by the seed, so a
  * batch holds events from the whole time range and batches arrive out
  * of time order.
  */
object Inputs {
  val sf = 0.01

  private def hmod(m: Long, seed: Int, cols: Column*): Column =
    pmod(xxhash64((lit(seed) +: cols): _*), lit(m))

  private def unif(seed: Int, cols: Column*): Column =
    hmod(1000000L, seed, cols: _*).cast("double") / lit(1e6)

  private def eltOf(index: Column, values: Seq[String]): Column =
    elt((index +: values.map(lit)): _*)

  private def pick(seed: Int, id: Column, values: Seq[String]): Column =
    eltOf((hmod(values.size.toLong, seed, id) + lit(1)).cast("int"), values)

  def fixed(spark: SparkSession, outDir: String): Unit = {
    def rows(perSf: Long): Long = math.max(1L, (perSf * sf).toLong)
    def write(df: DataFrame, name: String): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    val id = col("id")

    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    write(spark.range(5).select(id.cast("int").as("r_regionkey"),
      eltOf(id.cast("int") + lit(1), regions).as("r_name")), "region")
    write(spark.range(25).select(id.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), id).as("n_name"),
      pmod(id, lit(5)).cast("int").as("n_regionkey")), "nation")

    val nCust = rows(150000L)
    write(spark.range(nCust).select(id.as("c_custkey"),
      format_string("Customer#%09d", id).as("c_name"),
      hmod(25, 11, id).cast("int").as("c_nationkey"),
      round(lit(-1000.0) + unif(12, id) * lit(11000.0), 2).as("c_acctbal"),
      pick(13, id, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment")), "customer")

    val nSupp = rows(10000L)
    write(spark.range(nSupp).select(id.as("s_suppkey"),
      format_string("Supplier#%09d", id).as("s_name"),
      hmod(25, 21, id).cast("int").as("s_nationkey"),
      round(lit(-1000.0) + unif(22, id) * lit(11000.0), 2).as("s_acctbal")), "supplier")

    val nPart = rows(200000L)
    write(spark.range(nPart).select(id.as("p_partkey"),
      concat(
        pick(31, id, Seq("large", "hot", "blue", "old", "cold", "new", "dark", "light")),
        lit(" "),
        pick(32, id, Seq("ring", "bolt", "plate", "screw", "cap", "tube", "disk", "rod"))
      ).as("p_name"),
      concat(lit("Brand#"), hmod(25, 33, id)).as("p_brand"),
      pick(34, id, Seq("ECONOMY", "LARGE", "MEDIUM", "SMALL", "STANDARD")).as("p_type"),
      (hmod(50, 35, id) + lit(1)).cast("int").as("p_size"),
      round(lit(900.0) + unif(36, id) * lit(99.9), 2).as("p_retailprice")), "part")

    val nOrders = rows(1500000L)
    val epoch1995 = 788918400L
    write(spark.range(nOrders).select(id.as("o_orderkey"),
      hmod(nCust, 41, id).as("o_custkey"),
      pick(42, id, Seq("O", "F", "P")).as("o_orderstatus"),
      round(lit(1000.0) + unif(43, id) * lit(499000.0), 2).as("o_totalprice"),
      timestamp_seconds(lit(epoch1995) + hmod(2400, 44, id) * lit(86400L)).as("o_orderdate"),
      pick(45, id, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority")), "orders")

    write(spark.range(nOrders * 4).select(
      (id / 4).cast("long").as("l_orderkey"),
      hmod(nPart, 51, id).as("l_partkey"),
      hmod(nSupp, 52, id).as("l_suppkey"),
      (pmod(id, lit(4)) + lit(1)).cast("int").as("l_linenumber"),
      (hmod(50, 53, id) + lit(1)).cast("double").as("l_quantity"),
      round(lit(900.0) + unif(54, id) * lit(104100.0), 2).as("l_extendedprice"),
      (hmod(11, 55, id).cast("double") / lit(100.0)).as("l_discount"),
      (hmod(9, 56, id).cast("double") / lit(100.0)).as("l_tax"),
      pick(57, id, Seq("A", "N", "R")).as("l_returnflag"),
      pick(58, id, Seq("O", "F")).as("l_linestatus"),
      timestamp_seconds(lit(epoch1995 + 86400L) + hmod(2400, 59, id) * lit(86400L))
        .as("l_shipdate")), "lineitem")

    // one user takes ~10% of all events: the hot aggregate
    val nUsers = math.max(15L, (15000L * sf).toLong)
    val epoch2024us = 1704067200000000L
    write(spark.range(rows(1000000L)).select(id.as("event_id"),
      timestamp_micros(lit(epoch2024us) + hmod(30L * 86400L * 1000000L, 61, id)).as("ts"),
      when(hmod(100, 62, id) < lit(10), lit(7L)).otherwise(hmod(nUsers, 63, id)).as("user_id"),
      pick(64, id, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
      round(unif(65, id) * lit(560.0), 2).as("value"),
      format_string("{\"k\": %d}", hmod(100, 66, id)).as("props")), "events")

    // documents: a Zipf-shaped vocabulary plus ~8% near-duplicates drawn
    // from 500 templates, so every dedup operator finds real duplicates
    val nTailVocab = math.max(1000L, (20000L * sf).toLong)
    val vocab = Seq("spark", "table", "query", "column", "row", "scan", "filter",
      "join", "group", "agg", "sort", "hash", "key", "value", "stream", "batch",
      "part", "order", "line", "customer", "vector", "index", "shard", "state",
      "event", "fold", "window", "slow", "fast", "small")
    val isDup = hmod(100, 71, id) < lit(8)
    val seedCol = when(isDup, hmod(500, 72, id)).otherwise(id + lit(1000000000L))
    val words = transform(sequence(lit(0), (hmod(93, 73, seedCol) + lit(7)).cast("int")), i => {
      val ws = seedCol * lit(131) + i
      when(hmod(10, 78, ws) < lit(6),
        eltOf((hmod(vocab.size.toLong, 74, ws) + lit(1)).cast("int"), vocab))
        .otherwise(concat(lit("w"), hmod(nTailVocab, 79, ws)))
    })
    val baseText = array_join(words, " ")
    val text = when(isDup && hmod(2, 75, id) === lit(0),
      concat(baseText, lit(" "),
        eltOf((hmod(vocab.size.toLong, 76, id) + lit(1)).cast("int"), vocab)))
      .otherwise(baseText)
    write(spark.range(rows(50000L)).select(id.as("doc_id"), text.as("text"),
      when(hmod(100, 77, id) < lit(60), lit("en"))
        .otherwise(pick(78, id, Seq("zh", "de", "fr", "es"))).as("lang"),
      concat(lit("src"), hmod(20, 79, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long")), "documents")

    // embeddings: 64-d vectors around cluster centres, ~1% in one tight
    // hot cluster
    val nClusters = math.max(10L, (200L * sf).toLong)
    val hot = hmod(100, 82, id) < lit(1)
    val cluster = when(hot, lit(0L)).otherwise(hmod(nClusters, 81, id))
    val emb = transform(sequence(lit(0), lit(63)), i => {
      val center = (hmod(2001, 83, cluster * lit(67) + i).cast("double") - lit(1000.0)) /
        lit(1000.0) * lit(0.3)
      val spread = when(hot, lit(0.005)).otherwise(lit(0.08))
      (center + (unif(84, id * lit(131) + i) - lit(0.5)) * lit(2.0) * spread).cast("float")
    })
    write(spark.range(rows(20000L)).select(id.as("vec_id"), emb.as("embedding"),
      pmod(cluster, lit(10)).cast("int").as("label")), "embeddings")
  }

  /** One generated event, in the events table's column order. */
  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double, props: String)

  val storeKeys = 4000
  val storeBatchEvents = 2500
  private val types = Vector("click", "view", "purchase", "signup", "error")

  /** `nBatches` seeded batches of [[storeBatchEvents]] events over
    * [[storeKeys]] keys. Event ids are a seeded permutation and times
    * are uniform over 30 days, so (ts, event_id) never ties; each event
    * lands in a seeded batch, so batches are out of time order. */
  def storeBatches(seed: Long, nBatches: Int): IndexedSeq[IndexedSeq[Event]] = {
    val rnd = new scala.util.Random(seed)
    val n = nBatches * storeBatchEvents
    val ids = rnd.shuffle((0 until n).toVector)
    val start = 1704067200000000L
    val events = ids.map { eid =>
      // ~5% of events hit one hot key, as in the fixed events table
      val user = if (rnd.nextInt(20) == 0) 7L else rnd.nextInt(storeKeys).toLong
      Event(eid.toLong, microsToTs(start + (rnd.nextDouble() * 30 * 86400e6).toLong),
        user, types(rnd.nextInt(types.size)), rnd.nextInt(56000) / 100.0, "{}")
    }
    val batchOf = events.map(_ => rnd.nextInt(nBatches))
    val grouped = events.zip(batchOf).groupBy(_._2)
    (0 until nBatches).map(b => grouped.getOrElse(b, Vector.empty).map(_._1))
  }

  def microsToTs(us: Long): java.sql.Timestamp = {
    val t = new java.sql.Timestamp(Math.floorDiv(us, 1000L))
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }
}
