package graft.tools

import java.nio.file.Files

import graft.SparkSpec

/** Trace's library entry on the shared test session: its counts come
  * from listeners, so a drain or attribution mistake shows up as zero
  * jobs, a missing checkpoint execution or a missing micro-batch.
  */
class TraceSpec extends SparkSpec {

  private def persisted: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a batch query's eager checkpoint is its own traced execution") {
    val before = persisted
    val r = Trace.run(spark, sfDir, "q150_substring_dedup")
    assert(r.totals.jobs > 0)
    assert(r.actionMs > 0 && r.constructMs > 0)
    val cp = r.executions.filter(_.name == "localCheckpoint")
    assert(cp.nonEmpty, r.executions.map(_.name))
    assert(cp.forall(e => e.counts.jobs > 0 && e.plan.nonEmpty))
    // every execution's jobs are attributed to it, none left over
    assert(r.executions.map(_.counts.jobs).sum == r.totals.jobs)
    assert(r.executions.forall(_.id >= 0))
    // per-node row counts, including the checkpoint's own subplan
    val rows = "rows=(\\d+)".r
    assert(cp.forall(e => rows.findFirstIn(e.plan).isDefined), cp.head.plan)
    assert(r.exchanges > 0)
    assert(persisted.subsetOf(before), "Trace left a persisted RDD behind")

    val dir = Files.createTempDirectory("trace")
    Trace.write(r, dir.toString)
    val totals = Files.readString(dir.resolve("totals.json"))
    assert(totals.contains("\"query\":\"q150_substring_dedup\""), totals)
    assert(Files.readAllLines(dir.resolve("executions.jsonl")).size ==
      r.executions.size)
    assert(Files.readString(dir.resolve("plans.txt")).contains("localCheckpoint"))
  }

  test("a streaming query records each micro-batch's durationMs") {
    val before = persisted
    val r = Trace.run(spark, sfDir, "q134_stream_stream_join")
    assert(r.totals.jobs > 0)
    assert(r.batches.nonEmpty)
    assert(r.batches.forall(b => b.inputRows > 0 &&
      b.durationMs.get("triggerExecution").exists(_ >= 0)))
    // micro-batch executions carry the stream's jobs
    assert(r.executions.exists(e => e.name == "(unnamed)" && e.counts.jobs > 0))
    assert(persisted.subsetOf(before), "Trace left a persisted RDD behind")
  }
}
