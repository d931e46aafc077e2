package graft

import java.util.concurrent.CountDownLatch
import graft.sources.Tables
import graft.streaming.{LiveStore, Streams}

/** Shard sizing: the one law (Tables.shards) every data-volume-sized
  * shard, bucket and loop width goes through, each caller's fallback
  * for unknown mass, and the stream shard count as an explicit value —
  * sized from the op's own source, scoped through the conf lock.
  */
class Round17Spec extends SparkSpec {

  test("one sizing law: Tables.shards and each caller's fallback") {
    val m = 1000000L
    val table: Seq[(String, Int, Int)] = Seq(
      // the law: ⌈rows / 500k⌉ within [min, cap]; the cap applies first
      ("shards(0)", Tables.shards(0L), 1),
      ("shards(500k)", Tables.shards(500000L), 1),
      ("shards(500k+1)", Tables.shards(500001L), 2),
      ("shards(30M, cap 32)", Tables.shards(30 * m, cap = 32), 32),
      ("shards(1, min 2, cap 1)", Tables.shards(1L, min = 2, cap = 1), 2),
      ("shards(73k keys / 10k)", Tables.shards(73000L, 10000L), 8),
      // components() loop width, ⌈edges / 500k⌉ capped at the session:
      // the old floor(n/500k)+1 gave 2 here — ceil differs only at
      // exact multiples of 500k
      ("components loop @ 500k edges", Tables.shards(500000L, cap = 32), 1),
      ("components loop @ 1M edges", Tables.shards(m, cap = 32), 2),
      // the BPE trainer's coalesce width, ⌈vocab / 500k⌉: the old
      // floor gave 2 here — they differ for any vocab above 500k
      ("bpe loop @ 1.2M words", Tables.shards(1200000L), 3),
      ("bpe loop @ 499,999 words", Tables.shards(499999L), 1),
      // LiveStore layout: min 2, session cap; unknown mass keeps 16
      ("store, 100k rows", LiveStore.storeShardsFor(Some(100000L), 32), 2),
      ("store, 1M+1 rows", LiveStore.storeShardsFor(Some(m + 1), 32), 3),
      ("store, 100M rows", LiveStore.storeShardsFor(Some(100 * m), 32), 32),
      ("store, unknown mass", LiveStore.storeShardsFor(None, 32), 16),
      // bucketed dimension: min 1, session cap; unknown mass takes the
      // session default (under-bucketing an unknown corpus is the
      // expensive failure)
      ("dim, empty delta", Streams.dimBucketsFor(Some(0L), 32), 1),
      ("dim, sf0.1 delta", Streams.dimBucketsFor(Some(30000L), 32), 1),
      ("dim, 500k+1", Streams.dimBucketsFor(Some(500001L), 32), 2),
      ("dim, sf100 delta", Streams.dimBucketsFor(Some(30 * m), 32), 32),
      ("dim, unknown mass", Streams.dimBucketsFor(None, 32), 32))
    val wrong = table.filter { case (_, got, want) => got != want }
    assert(wrong.isEmpty, wrong.map { case (w, g, e) => s"$w: got $g, want $e" }
      .mkString("; "))
  }

  test("stateShardsFor sizes state shards from measured per-batch mass") {
    val m = 1000000L
    // per-batch input is total source rows / 3 batches; the 2-shard
    // floor (never 1) keeps cross-shard state merge exercised
    assert(Streams.stateShardsFor(Some(1L), 32) == 2)
    assert(Streams.stateShardsFor(Some(100000L), 32) == 2)
    assert(Streams.stateShardsFor(Some(3 * 500000L), 32) == 2)
    // ~500k rows/shard beyond the floor
    assert(Streams.stateShardsFor(Some(3 * (m + 1)), 32) == 3)
    // sf100-scale batches: wanted width caps at the session default
    assert(Streams.stateShardsFor(Some(99 * m), 32) == 32)
    assert(Streams.stateShardsFor(Some(99 * m), 256) == 66)
    // unknown mass (the broker transport): the flat default 8
    assert(Streams.stateShardsFor(None, 32) == 8)
  }

  test("row-scale state lifts the shard count above the input rule") {
    // row-scale state adds ~10k keys/shard (the 73k-key
    // stream_command_dedup measured 2.1 s/batch at 2 shards vs
    // 0.65 s at 8)
    assert(Streams.stateShardsFor(Some(73000L), 32, rowScaleState = true) == 8)
    assert(Streams.stateShardsFor(Some(100000L), 32, rowScaleState = true) == 10)
    // tiny state never drags the count below the input rule
    assert(Streams.stateShardsFor(Some(500L), 32, rowScaleState = true) == 2)
    // the cap still wins at scale
    assert(Streams.stateShardsFor(Some(1000000000L), 32, rowScaleState = true) == 32)
    // unknown mass keeps the flat default
    assert(Streams.stateShardsFor(None, 32, rowScaleState = true) == 8)
  }

  test("live-store shard layout derives from source mass and is store metadata") {
    // the modulus is STORE metadata: a recorded layout is read back by
    // any later session; an unmarked store keeps the default
    val root = java.nio.file.Files.createTempDirectory("graft_shards").toFile
    assert(LiveStore.storeShards(root.getPath + "/unmarked") == 16)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(root.getPath, "_nshards"), "5")
    assert(LiveStore.storeShards(root.getPath) == 5)
  }

  test("two stream runs in one session serialize and leave the session width intact") {
    val key = "spark.sql.shuffle.partitions"
    val original = spark.conf.get(key)
    val aInside = new CountDownLatch(1)
    val bEntering = new CountDownLatch(1)
    val aDone = new CountDownLatch(1)
    @volatile var bSaw = ""
    val a = new Thread(() => {
      Streams.withStreamShards(spark, 3) {
        aInside.countDown()
        bEntering.await()
        Thread.sleep(300) // B reaches the scope while A is inside
      }
      aDone.countDown()
    })
    val b = new Thread(() => {
      aInside.await()
      bEntering.countDown()
      Streams.withStreamShards(spark, 5) {
        aDone.await() // B leaves after A
        bSaw = spark.conf.get(key)
      }
    })
    a.start(); b.start()
    a.join(60000); b.join(60000)
    assert(!a.isAlive && !b.isAlive, "stream scopes deadlocked")
    assert(bSaw == "5")
    // an unserialized B would save A's 3 as "previous" and restore it
    assert(spark.conf.get(key) == original)
  }

  test("a stream keeps its own shard count whatever source was built after it") {
    // the order the session-conf side channel forbade: A's source is
    // built, then B's, then A runs — each with the count its op passed
    def recordedBy(df: org.apache.spark.sql.DataFrame, name: String, mode: String,
        shards: Int): Seq[Int] = {
      val root = java.nio.file.Files.createTempDirectory("graft_shards_ckpt").toFile
      Tables.withScopedConf(spark, "spark.sql.streaming.checkpointLocation", root.getPath) {
        Streams.runToTable(spark, df, name, mode, shards)
      }
      Option(root.listFiles()).getOrElse(Array.empty).toSeq
        .flatMap(q => recordedShards(q.getPath))
    }
    val a = Streams.foldEvents(Streams.eventStream(spark, sf)).toDF()
    val b = Streams.eventStream(spark, sf).toDF().groupBy("event_type").count()
    assert(recordedBy(b, "order_b", "complete", 5) == Seq(5, 5, 5))
    assert(recordedBy(a, "order_a", "update", 3) == Seq(3, 3, 3))
  }
}
