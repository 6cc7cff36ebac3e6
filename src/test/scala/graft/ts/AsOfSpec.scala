package graft.ts

import graft.SparkSpec
import java.time.Duration

/** As-of join semantics incl. the reference's argmin tie-break (J1, survey
  * §7.4 trap 4: earlier row wins distance ties).
  */
class AsOfSpec extends SparkSpec {
  import spark.implicits._

  private def left = Seq(
    ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")
  ).toDF("lt")

  private def right = Seq(
    (ts("2024-01-01 09:59:00"), "a"),
    (ts("2024-01-01 10:20:00"), "b")
  ).toDF("rt", "v")

  private def matched(dir: AsOf.Direction): Seq[Option[String]] =
    AsOf.join(left, right, "lt", "rt", Seq("v"), direction = dir)
      .orderBy("lt").collect()
      .map(r => Option(r.getString(r.fieldIndex("asof_v")))).toSeq

  test("backward: last right row at or before each left ts") {
    assert(matched(AsOf.Direction.Backward) == Seq(Some("a"), Some("b")))
  }

  test("forward: first right row at or after each left ts; none -> null") {
    assert(matched(AsOf.Direction.Forward) == Seq(Some("b"), None))
  }

  test("nearest: closer of the two sides") {
    // 10:00 -> a (1min) vs b (20min); 10:30 -> b (10min, nothing after)
    assert(matched(AsOf.Direction.Nearest) == Seq(Some("a"), Some("b")))
  }

  test("nearest tie-break: earlier row wins (reference argmin)") {
    val l = Seq(ts("2024-01-01 10:10:00")).toDF("lt")
    val r = Seq(
      (ts("2024-01-01 10:00:00"), "early"),
      (ts("2024-01-01 10:20:00"), "late")
    ).toDF("rt", "v")
    val out = AsOf.join(l, r, "lt", "rt", Seq("v"), direction = AsOf.Direction.Nearest)
    assert(out.head().getString(out.columns.indexOf("asof_v")) == "early")
  }

  test("exact same-instant right row matches backward (<= not <)") {
    val l = Seq(ts("2024-01-01 10:20:00")).toDF("lt")
    val out = AsOf.join(l, right, "lt", "rt", Seq("v"),
      direction = AsOf.Direction.Backward)
    assert(out.head().getString(out.columns.indexOf("asof_v")) == "b")
  }

  test("tolerance nulls matches farther than the bound") {
    val out = AsOf.join(left, right, "lt", "rt", Seq("v"),
        direction = AsOf.Direction.Nearest, tolerance = Some(Duration.ofMinutes(2)))
      .orderBy("lt").collect()
    assert(Option(out(0).getString(out(0).fieldIndex("asof_v"))) == Some("a")) // 60s ok
    assert(out(1).isNullAt(out(1).fieldIndex("asof_v"))) // 600s > 120s
  }

  test("a 500ms tolerance keeps a 400ms match and nulls a 600ms one") {
    val l = Seq(ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")).toDF("lt")
    val r = Seq(
      (ts("2024-01-01 09:59:59.6"), "a"),
      (ts("2024-01-01 10:29:59.4"), "b")
    ).toDF("rt", "v")
    val out = AsOf.join(l, r, "lt", "rt", Seq("v"),
        direction = AsOf.Direction.Backward, tolerance = Some(Duration.ofMillis(500)))
      .orderBy("lt").collect()
    assert(Option(out(0).getString(out(0).fieldIndex("asof_v"))) == Some("a"))
    assert(out(1).isNullAt(out(1).fieldIndex("asof_v")))
  }

  test("empty right side yields all-null matches, not an error") {
    val emptyRight = right.filter(org.apache.spark.sql.functions.lit(false))
    val out = AsOf.join(left, emptyRight, "lt", "rt", Seq("v"),
      direction = AsOf.Direction.Nearest).collect()
    assert(out.length == 2)
    assert(out.forall(_.isNullAt(out.head.fieldIndex("asof_v"))))
  }

  test("keys partition the match: series never bleed into each other") {
    val l = Seq(("k1", ts("2024-01-01 10:00:00")), ("k2", ts("2024-01-01 10:00:00")))
      .toDF("k", "lt")
    val r = Seq(("k1", ts("2024-01-01 09:00:00"), 1.0)).toDF("k", "rt", "v")
    val out = AsOf.join(l, r, "lt", "rt", Seq("v"), keys = Seq("k"),
        direction = AsOf.Direction.Backward)
      .orderBy("k").collect()
    assert(out(0).getDouble(out(0).fieldIndex("asof_v")) == 1.0)
    assert(out(1).isNullAt(out(1).fieldIndex("asof_v"))) // k2 has no right rows
  }
}
