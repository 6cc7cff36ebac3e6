package graft

import org.scalatest.funsuite.AnyFunSuite

class BudgetCheckSpec extends AnyFunSuite {

  test("a seeded 2x slowdown on a budgeted query fails the check; " +
    "within-budget and unbudgeted queries pass") {
    val budgets = Map("ts_theilsen_slope" -> 2.0, "ts_ffill" -> 1.0)
    // seeded regression: theilsen at 2x its ceiling (e.g. the collect_list
    // kernel replaced by the interpreted percentile path again)
    val measured = Map(
      "ts_theilsen_slope" -> 4.1, // VIOLATION
      "ts_ffill" -> 0.9, // within budget
      "brand_new_query" -> 99.0 // no budget row yet -> not checked
    )
    val v = BudgetCheck.violations(measured, budgets)
    assert(v.keySet == Set("ts_theilsen_slope"), v)
    assert(v("ts_theilsen_slope") == ((4.1, 2.0)))
  }

  test("parse reads the flat name->seconds shape and ignores structure " +
    "it does not own") {
    val json =
      """{
        |  "ts_ffill": 0.98,
        |  "ts_ewma": 2.1,
        |  "rel_pivot": 1
        |}""".stripMargin
    val m = BudgetCheck.parse(json)
    assert(m == Map("ts_ffill" -> 0.98, "ts_ewma" -> 2.1, "rel_pivot" -> 1.0))
    // unreadable path -> no budgets -> no violations (never a crash)
    val none = BudgetCheck.load(java.nio.file.Paths.get("/nonexistent/b.json"))
    assert(none.isEmpty)
    assert(BudgetCheck.violations(Map("q" -> 9.9), none).isEmpty)
  }

  test("budgets apply only at sf0.1 on the core count they were minted on; " +
    "_-prefixed keys are never budgets") {
    val json = """{ "_cpus": 32, "_provenance_rule": "x", "ts_ffill": 0.98 }"""
    assert(BudgetCheck.parse(json) == Map("ts_ffill" -> 0.98))
    assert(BudgetCheck.mintedCpus(json) == Some(32))
    assert(BudgetCheck.mintedCpus("""{ "ts_ffill": 0.98 }""").isEmpty)
    assert(BudgetCheck.skipReason("/data/sf0.1", 32, Some(32)).isEmpty)
    assert(BudgetCheck.skipReason("/data/sf0.1", 8, Some(32)).exists(_.contains("32 cpus")))
    assert(BudgetCheck.skipReason("/data/sf0.01", 32, Some(32)).isDefined)
    assert(BudgetCheck.skipReason("/data/sf0.1", 32, None).isDefined)
    // the committed file records its core count
    val path = java.nio.file.Paths.get("BUDGETS.json")
    if (java.nio.file.Files.isReadable(path))
      assert(BudgetCheck.mintedCpus(java.nio.file.Files.readString(path)).isDefined)
  }

  test("violations render as a stable JSON object") {
    val j = BudgetCheck.toJson(Map("b" -> ((2.5, 1.0)), "a" -> ((3.0, 1.5))))
    assert(j == """{"a":{"sec":3.0,"budget":1.5},"b":{"sec":2.5,"budget":1.0}}""")
    assert(BudgetCheck.toJson(Map.empty) == "{}")
  }

  test("BUDGETS.json (when present) covers the bench surface: every " +
    "budgeted name is a real query") {
    val path = java.nio.file.Paths.get("BUDGETS.json")
    val budgets = BudgetCheck.load(path)
    if (budgets.nonEmpty) {
      val known = SparkEntry.queries.keySet
      val stale = budgets.keySet.diff(known)
      assert(stale.isEmpty, s"budget rows for unknown queries: $stale")
    }
  }
}
