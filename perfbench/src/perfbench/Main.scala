package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.perfbench.Tracer
import graft.streaming.LiveStore

/** The benchmark client: one JVM, one closed-loop client thread.
  *
  *   Main gen <dataDir>
  *   Main run <workload> <seed> <seconds> <trace 0|1> <dataDir> <workDir> <records.jsonl> <op,op,..> [injectOp]
  *
  * `run` records every call, trigger and (traced) Spark event as JSON
  * lines; `perfbench/run.py` turns them into metrics. */
object Main {

  /** Lookups after every upsert in `state_store`. */
  val lookupsPerUpsert = 1
  /** Compaction cycles of input generated for `state_store`. */
  val maxCycles = 2

  def session(nproc: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("graft.workdir", s"$work/graft")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "gen" :: data :: Nil =>
      val spark = session(Runtime.getRuntime.availableProcessors, s"$data.work")
      Inputs.fixed(spark, data)
      spark.stop()
    case "run" :: workload :: seed :: seconds :: trace :: data :: work :: out :: ops :: rest =>
      new Run(workload, seed.toLong, seconds.toDouble, trace == "1", data, work,
        ops.split(',').toSeq, rest.headOption).execute(out)
    case _ =>
      System.err.println("usage: Main gen <dataDir> | Main run <workload> <seed> " +
        "<seconds> <trace> <dataDir> <workDir> <out> <ops> [injectOp]")
      sys.exit(2)
  }
}

final class Run(workload: String, seed: Long, seconds: Double, traced: Boolean,
    data: String, work: String, opList: Seq[String], inject: Option[String]) {
  import Main._

  private val nproc = Runtime.getRuntime.availableProcessors
  private val jvmStart =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
  private val spark = session(nproc, work)
  private val tracer = new Tracer(spark, traced)

  /** graft module of every registered op, from its family's package. */
  private val module: Map[String, String] = graft.SparkEntry.families.flatMap { f =>
    val pkg = f.getClass.getName.split('.')
    f.ops.map(o => o.name -> pkg(1))
  }.toMap

  def execute(out: String): Unit = {
    tracer.attach()
    tracer.add("t" -> "phase", "name" -> "session", "start" -> jvmStart, "end" -> tracer.nowMs())
    workload match {
      case "stream_ingest" | "batch_query" => ops(opList)
      case "state_store" => store()
      case other => sys.error(s"unknown workload $other")
    }
    tracer.add("t" -> "host", "nproc" -> nproc,
      "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024), "sf" -> Inputs.sf,
      "control_s" -> control())
    tracer.write(out)
    spark.stop()
  }

  /** Bench's frozen control computation, unchanged: a host-speed probe
    * whose cost no graft change can move. Median of three. */
  private def control(): Double = tracer.phase("control") {
    def controlOnce(): Double = {
      spark.sharedState.cacheManager.clearCache()
      val t0 = System.nanoTime()
      spark.read.parquet(s"$data/lineitem.parquet")
        .select("l_orderkey", "l_partkey", "l_extendedprice")
        .groupBy((col("l_orderkey") % 1024).as("g"))
        .agg(sum(xxhash64(col("l_orderkey"), col("l_partkey"),
          col("l_extendedprice")).cast("decimal(38,0)")).as("h"),
          count(lit(1)).as("n"))
        .agg(sum(col("h")), sum(col("n"))).head()
      (System.nanoTime() - t0) / 1e9
    }
    Seq(controlOnce(), controlOnce(), controlOnce()).sorted.apply(1)
  }

  /** Run whole rounds until the measured time is used: another round
    * starts only while it is expected to end within half a round of
    * the budget, so every run measures the same op mix. */
  private def rounds(body: Int => Unit): Unit = tracer.phase("measure") {
    val t0 = System.nanoTime()
    var round = 1
    var last = 0.0
    def elapsed = (System.nanoTime() - t0) / 1e9
    while (round == 1 || elapsed + last / 2 < seconds) {
      val r0 = elapsed
      body(round)
      last = elapsed - r0
      round += 1
    }
  }

  private def order(ops: Seq[String], round: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + round).shuffle(ops)

  /** `stream_ingest` and `batch_query`: each op once per round, in a
    * seeded order; round 0 is the set-up's warm pass. */
  private def ops(list: Seq[String]): Unit = {
    val q = graft.SparkEntry.queries
    def runOp(op: String, round: Int): Unit = {
      spark.sharedState.cacheManager.clearCache()
      val (res, t0, t1) = tracer.timed(scala.util.Try {
        val df = q(op)(spark, data)
        (df.schema, df.collect())
      })
      val attrs = res match {
        case scala.util.Success((schema, rows)) =>
          val seen = if (inject.contains(op)) rows.drop(1) else rows
          Seq("rows" -> seen.length, "fp" -> Check.fingerprint(schema, seen))
        case scala.util.Failure(e) => Seq("error" -> e.toString)
      }
      tracer.span(op, module(op), t0, t1, (Seq("op" -> op, "round" -> round) ++ attrs): _*)
    }
    tracer.phase("warm")(order(list, 0).foreach(runOp(_, 0)))
    rounds(r => order(list, r).foreach(runOp(_, r)))
  }

  private def baseVersion(dir: String): Long =
    Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("base_v"))
      .map(_.stripPrefix("base_v").toLong).maxOption.getOrElse(-1L)

  /** The store's committed read roots: newest base plus later deltas. */
  private def liveRoots(dir: String): Int = {
    val v = baseVersion(dir)
    val deltas = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .map(_.getName).filter(_.startsWith("delta_b"))
      .count(_.stripPrefix("delta_b").toLong > v)
    deltas + (if (v >= 0) 1 else 0)
  }

  private def dirBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(dirBytes).sum
    else f.length()

  /** `state_store`: upserts of seeded batches beside point lookups. */
  private def store(): Unit = {
    val cycle = LiveStore.compactEvery + 1
    val genDir = s"$work/gen/batches"
    val batches = tracer.phase("inputs") {
      val b = Inputs.storeBatches(seed, cycle * (maxCycles + 1))
      import spark.implicits._
      b.zipWithIndex.flatMap { case (evs, i) => evs.map(e => (e, i)) }
        .map { case (e, i) => (e.event_id, e.ts, e.user_id, e.event_type, e.value, e.props, i) }
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props", "batch")
        .write.partitionBy("batch").parquet(genDir)
      b
    }
    def batchDf(i: Int): DataFrame = spark.read.parquet(s"$genDir/batch=$i")
    val keys = new scala.util.Random(seed + 1)

    // one pass: upsert batches `from until to` into `dir`, with
    // `lookupsPerUpsert` lookups after every `lookupEvery`-th upsert
    def pass(dir: String, from: Int, to: Int, fold: Check.Fold, round: Int,
        lookupEvery: Int): Unit =
      (from until to).foreach { i =>
        val before = baseVersion(dir)
        val (_, t0, t1) = tracer.timed(LiveStore.upsert(batchDf(i), i.toLong, dir))
        fold.add(batches(i))
        tracer.span("upsert", "streaming", t0, t1, "op" -> "upsert", "round" -> round,
          "rows" -> batches(i).size, "compacted" -> (baseVersion(dir) != before))
        if ((i - from) % lookupEvery == 0) (0 until lookupsPerUpsert).foreach { _ =>
          val key = keys.nextInt(Inputs.storeKeys).toLong
          val roots = liveRoots(dir)
          val (rows, l0, l1) = tracer.timed(LiveStore.lookup(spark, dir, key).collect())
          val seen = if (inject.contains("lookup")) rows.drop(1) else rows
          val ok = seen.map(Check.stateRow).sorted.toSeq == fold.expected(key)
          tracer.span("lookup", "streaming", l0, l1, "op" -> "lookup", "round" -> round,
            "rows" -> seen.length, "roots" -> roots, "ok" -> ok)
        }
      }

    val workDir = s"$work/graft"
    tracer.phase("warm") {
      val dir = s"$workDir/store_warm"
      // every code path once, lookups after a third of the upserts
      pass(dir, 0, cycle, new Check.Fold, 0, lookupEvery = 3)
    }
    val dir = s"$workDir/store"
    val fold = new Check.Fold
    var next = cycle
    rounds { r =>
      if (next + cycle > batches.size) sys.error("state_store ran out of generated batches")
      pass(dir, next, next + cycle, fold, r, lookupEvery = 1)
      next += cycle
    }
    val (snap, s0, s1) = tracer.timed(LiveStore.snapshot(spark, dir).collect())
    val snapRows = snap.map(Check.stateRow).sorted.toSeq
    // the batch KTable over exactly the committed events must agree too
    val batchRows = tracer.phase("check") {
      val checkDir = s"$work/check"
      spark.read.parquet((cycle until next).map(i => s"$genDir/batch=$i"): _*)
        .write.parquet(s"$checkDir/events.parquet")
      graft.SparkEntry.queries("es_latest_state")(spark, checkDir).collect()
        .map(Check.stateRow).sorted.toSeq
    }
    tracer.span("snapshot", "streaming", s0, s1, "op" -> "snapshot", "round" -> -1,
      "rows" -> snap.length, "ok" -> (snapRows == fold.all && snapRows == batchRows))
    tracer.add("t" -> "store", "events" -> (cycle until next).map(batches(_).size).sum,
      "bytes" -> dirBytes(new java.io.File(dir)))
  }
}
