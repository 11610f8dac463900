package graft

/** Master-orchestration semantics (reference master_etl.py): ordered
  * blocks, retry with injectable sleeper, run-lock singleton, duplicate
  * refresh-step dedupe — plus the real five-stage pipeline driven
  * through the orchestrator end-to-end.
  */
class OrchestratorSpec extends SparkTestBase {
  import Orchestrator._

  test("blocks run in order; a block that fails twice succeeds on the retry") {
    val order = scala.collection.mutable.Buffer.empty[String]
    val sleeps = scala.collection.mutable.Buffer.empty[Long]
    var flakyAttempts = 0
    val report = Orchestrator.run(
      Seq(
        Block("a", () => order += "a"),
        Block("flaky", () => {
          order += "flaky"
          flakyAttempts += 1
          if (flakyAttempts < 3) sys.error(s"transient #$flakyAttempts")
        }),
        Block("c", () => order += "c")),
      maxRetries = 2, backoffMs = 100, sleeper = sleeps += _)
    assert(report.acquired && report.succeeded)
    assert(report.blocks.map(b => (b.name, b.status)) ==
      Seq(("a", "ok"), ("flaky", "ok"), ("c", "ok")))
    assert(report.blocks(1).attempts == 3)
    assert(sleeps.toSeq == Seq(100L, 200L)) // linear backoff, injectable clock
    assert(order.toSeq == Seq("a", "flaky", "flaky", "flaky", "c"))
  }

  test("a block that exhausts its retries aborts the ordered tail") {
    var cRan = false
    val report = Orchestrator.run(
      Seq(
        Block("a", () => ()),
        Block("dead", () => sys.error("always broken")),
        Block("c", () => cRan = true)),
      maxRetries = 2, sleeper = _ => ())
    assert(report.acquired && !report.succeeded)
    assert(report.blocks.map(b => (b.name, b.status)) ==
      Seq(("a", "ok"), ("dead", "failed"), ("c", "not_run")))
    assert(report.blocks(1).attempts == 3 &&
      report.blocks(1).error.contains("always broken"))
    assert(!cRan)
  }

  test("duplicate refresh steps dedupe: the second occurrence never executes") {
    var refreshRuns = 0
    val report = Orchestrator.run(
      Seq(
        Block("refresh_views", () => refreshRuns += 1, refreshKey = Some("views")),
        Block("other", () => ()),
        Block("refresh_views_again", () => refreshRuns += 1, refreshKey = Some("views"))),
      sleeper = _ => ())
    assert(report.succeeded && refreshRuns == 1)
    assert(report.blocks.map(_.status) == Seq("ok", "ok", "skipped_duplicate"))
  }

  test("run-lock singleton: a concurrent master does not acquire; nothing executes") {
    assert(Orchestrator.tryHoldLock())
    try {
      var ran = false
      val blocked = Orchestrator.run(Seq(Block("x", () => ran = true)), sleeper = _ => ())
      assert(!blocked.acquired && blocked.blocks.isEmpty && !blocked.succeeded)
      assert(!ran)
    } finally Orchestrator.releaseLock()
    // after release the same run goes through
    val after = Orchestrator.run(Seq(Block("x", () => ())), sleeper = _ => ())
    assert(after.acquired && after.succeeded)
  }

  test("the five-stage pipeline runs through the orchestrator: dedup'd gold, clean log") {
    val work = java.nio.file.Files.createTempDirectory("graft-master").toString
    val persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (report, log) = Pipeline.runMaster(spark, sf0001, work, sleeper = _ => ())
    // every cache the run builds is released by the run
    assert(spark.sparkContext.getPersistentRDDs.keySet.toSet == persisted)
    assert(report.acquired && report.succeeded, report.toString)
    assert(report.blocks.map(b => (b.name, b.status)) == Seq(
      ("land", "ok"), ("conform", "ok"), ("merge", "ok"),
      ("gold", "ok"), ("gold_refresh_again", "skipped_duplicate"),
      ("serve", "ok")))
    // one log line per EXECUTED stage; the deduped refresh adds none
    assert(log.map(_._1) == Seq("land", "conform", "merge", "gold", "serve"))
    assert(log.toMap.apply("serve").nonEmpty)
  }

  test("linear run() still produces the same five stage summaries") {
    val work = java.nio.file.Files.createTempDirectory("graft-linear").toString
    val log = Pipeline.run(spark, sf0001, work)
    assert(log.map(_._1) == Seq("land", "conform", "merge", "gold", "serve"))
  }
}
