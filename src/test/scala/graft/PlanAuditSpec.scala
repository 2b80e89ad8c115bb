package graft

import graft.tools.PlanAudit

/** The plan-audit counters feed the committed PLANS.md scale review —
  * a miscount there silently misgrades every query's 100×-scale story
  * (v1 of the tool double-counted every node by tallying the Initial
  * Plan section of finalized adaptive dumps). Pin the parsing. */
class PlanAuditSpec extends SparkTestBase {

  test("every allow-list key names a registered query") {
    // a retired query must take its allowedNlj/allowedFallback entry
    // with it; a stale key would silently allow the next query that
    // reuses the name
    val registered = SparkEntry.queries.keySet
    for ((list, keys) <- Seq("allowedNlj" -> PlanAudit.allowedNlj.keySet,
        "allowedFallback" -> PlanAudit.allowedFallback.keySet)) {
      val stale = keys -- registered
      assert(stale.isEmpty,
        s"$list names unregistered queries: ${stale.toSeq.sorted.mkString(", ")}")
    }
  }

  test("stripInitialPlans drops the Initial Plan subtree, keeps the final one") {
    val dump =
      """AdaptiveSparkPlan isFinalPlan=true
        |+- == Final Plan ==
        |   *(2) HashAggregate(keys=[k], functions=[sum(v)])
        |   +- AQEShuffleRead coalesced
        |      +- ShuffleQueryStage 0
        |         +- Exchange hashpartitioning(k, 4), ENSURE_REQUIREMENTS
        |            +- *(1) HashAggregate(keys=[k], functions=[partial_sum(v)])
        |+- == Initial Plan ==
        |   HashAggregate(keys=[k], functions=[sum(v)])
        |   +- Exchange hashpartitioning(k, 4), ENSURE_REQUIREMENTS
        |      +- HashAggregate(keys=[k], functions=[partial_sum(v)])
        |""".stripMargin
    val kept = PlanAudit.stripInitialPlans(dump)
    assert(kept.contains("== Final Plan =="))
    assert(!kept.contains("== Initial Plan =="))
    // exactly the final plan's single Exchange survives
    assert(kept.linesIterator.count(_.contains("Exchange hashpartitioning")) === 1)
    // a STRICTLY shallower line after an initial section is kept — that
    // is how the dump continues past a nested adaptive subtree (any
    // same-depth sibling of the markers is itself a section marker)
    val nested = dump.linesIterator.map("   " + _).mkString("\n") +
      "\nSomethingAfter"
    assert(PlanAudit.stripInitialPlans(nested).contains("SomethingAfter"))
  }

  test("audit counts the final adaptive plan once, with codegen spans") {
    import spark.implicits._
    val df = Seq(("a", 1), ("b", 2), ("a", 3)).toDF("k", "v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
    val c = PlanAudit.audit(df)
    assert(c.rows === 2)
    assert(c.shuffles === 1) // partial+final agg: ONE exchange, not two
    assert(c.nlj === 0)
    assert(c.wscg >= 1) // span ids only exist once AQE finalized
    assert(c.err.isEmpty)
  }

  test("audit counts a RoundRobinPartitioning repartition as a shuffle") {
    import spark.implicits._
    // repartition(n) with no keys is a full-data network pass at scale —
    // the audit must not undercount it (ADVICE r4: the dedup family's
    // deliberate repartition was invisible to the shuffles column)
    val df = Seq(1, 2, 3).toDF("x").repartition(4)
    val c = PlanAudit.audit(df)
    assert(c.rows === 3)
    assert(c.shuffles >= 1)
  }

  test("audit flags a genuine nested-loop join") {
    import spark.implicits._
    val a = Seq(1, 2).toDF("x")
    val b = Seq(3, 4).toDF("y")
    val c = PlanAudit.audit(a.crossJoin(b))
    assert(c.rows === 4)
    assert(c.nlj === 1)
  }

  test("auditTwice executes twice; tableRow shows both counts of an unstable query") {
    import spark.implicits._
    var built = 0
    val runs = PlanAudit.auditTwice { () =>
      built += 1
      Seq(1, 2, 3).toDF("x").repartition(2)
    }
    assert(built === 2 && runs.size === 2 && runs.distinct.size === 1, runs)
    assert(PlanAudit.tableRow("q", runs).startsWith("| q | "))

    val first = PlanAudit.Counts(9, 0, 5, 1, 0, 2, 10)
    assert(PlanAudit.tableRow("m1_impute", Seq(first, first.copy(bcast = 4))) ===
      "| m1_impute (unstable) | 9 | 0 | 5/4 | 1 | 0 | 2 | - | 0 | 10 |\n")

    // a failing first run is reported, not repeated
    val failed = PlanAudit.auditTwice { () =>
      built += 1
      throw new IllegalStateException("no such table\nat ...")
    }
    assert(built === 3 && failed.size === 1)
    assert(PlanAudit.tableRow("bad", failed) === "| bad | ERR: no such table |||||||||\n")
  }
}
