package graft

/** The exchange budget of EVERY batch operator, pinned as a committed
  * golden file — ShuffleBudgetSpec's 24 hand-reasoned headliner
  * ceilings, extended to the whole surface: each §2 "one shuffle on
  * the right key" claim is machine-diffed per run, so an edit that
  * silently adds an exchange anywhere (a lost broadcast, a stray
  * repartition, a join that stopped reusing its input's partitioning)
  * fails HERE by name with the old and new counts.
  *
  * Golden format (tools/shuffle_golden.tsv, sorted by name):
  *   name <TAB> shuffles <TAB> reused <TAB> broadcasts
  * Regenerate after an INTENTIONAL plan change with:
  *   sbt -Dgraft.shuffle.regen=true "testOnly graft.ShuffleGoldenSpec"
  * and review the golden diff like any other code change.
  */
class ShuffleGoldenSpec extends SparkSpec {

  private val goldenPath = "tools/shuffle_golden.tsv"

  // streaming queries run whole Structured-Streaming jobs inside fn;
  // the two live-store ops also ingest on invocation — same skip set
  // as ShuffleCount/PlanLint
  private def skipped(name: String): Boolean =
    name.startsWith("stream_") ||
      Set("es_live_store", "es_live_compaction").contains(name)

  private def capture(): Seq[(String, (Int, Int, Int))] =
    SparkEntry.queries.toSeq.sortBy(_._1).collect {
      case (name, fn) if !skipped(name) =>
        // cached InMemoryRelations print their plans inline and
        // double-count exchanges (the CLAUDE.md gotcha) — cold plans only
        spark.sharedState.cacheManager.clearCache()
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        val sh = Seq("Exchange hashpartitioning", "Exchange rangepartitioning",
          "Exchange SinglePartition").map(p => p.r.findAllIn(plan).length).sum
        val reused = "ReusedExchange".r.findAllIn(plan).length
        val bc = "BroadcastExchange".r.findAllIn(plan).length
        name -> ((sh, reused, bc))
    }

  test("every batch operator's exchange counts match the committed golden file") {
    val got = capture()
    if (sys.props.get("graft.shuffle.regen").contains("true")) {
      val out = got.map { case (n, (s, r, b)) => s"$n\t$s\t$r\t$b" }
        .mkString("", "\n", "\n")
      java.nio.file.Files.writeString(java.nio.file.Paths.get(goldenPath), out)
      info(s"regenerated $goldenPath with ${got.size} operators")
    } else {
      val golden = scala.io.Source.fromFile(goldenPath).getLines()
        .filter(_.nonEmpty).map { l =>
          val Array(n, s, r, b) = l.split('\t'); n -> ((s.toInt, r.toInt, b.toInt))
        }.toMap
      val failures = scala.collection.mutable.ArrayBuffer.empty[String]
      got.foreach { case (name, counts) =>
        golden.get(name) match {
          case None => failures += s"$name: not in golden (new op? regen the file)"
          case Some(g) if g != counts =>
            failures += s"$name: (shuffles,reused,broadcasts) drifted $g -> $counts"
          case _ =>
        }
      }
      golden.keySet.diff(got.map(_._1).toSet).foreach { n =>
        failures += s"$n: in golden but no longer registered"
      }
      assert(failures.isEmpty,
        s"exchange-count drift (regen with -Dgraft.shuffle.regen=true after review):\n${failures.mkString("\n")}")
    }
  }
}
