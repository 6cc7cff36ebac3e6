package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native expressions agree with the HOF reference formulation on both
  * float and double arrays, interpreted (eval) and codegen'd paths.
  */
class VectorSpec extends SparkSpec {
  import spark.implicits._

  private def hofDot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, v) => acc + v)

  test("array_dot matches HOF dot on float and double arrays") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.0, 6.0)),
      (Array(-1.5f, 0.0f, 2.5f), Array(2.0, -3.0, 0.5))
    ).toDF("f", "d")
    val rows = df.select(
      vector.array_dot(col("f"), col("d")).as("native"),
      hofDot(col("f"), col("d")).as("hof")).collect()
    rows.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-9))
    assert(rows(0).getDouble(0) == 32.0)
  }

  test("array_cosine matches dot/(|a||b|) and handles identical vectors") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(0.0, 1.0)),
      (Array(3.0f, 4.0f), Array(3.0, 4.0))
    ).toDF("f", "d")
    val rows = df.select(vector.array_cosine(col("f"), col("d")).as("c")).collect()
    assert(rows(0).getDouble(0) == 0.0)
    assert(math.abs(rows(1).getDouble(0) - 1.0) < 1e-12)
  }

  test("array_cosine: zero-norm input yields NULL, never NaN — Spark orders " +
    "NaN above every value, so NaN would pass >= filters and rank FIRST desc") {
    val df = Seq(
      (Array(0.0f, 0.0f), Array(1.0, 2.0)),
      (Array(1.0f, 1.0f), Array(0.0, 0.0)),
      (Array(0.0f, 0.0f), Array(0.0, 0.0))
    ).toDF("f", "d")
    val rows = df.select(vector.array_cosine(col("f"), col("d")).as("c")).collect()
    assert(rows.forall(_.isNullAt(0)))
    // and through the codegen'd filter path: no zero-norm row survives
    assert(df.filter(vector.array_cosine(col("f"), col("d")) >= -1.0).count() == 0)
  }

  test("null inputs propagate null") {
    val df = Seq((Some(Array(1.0, 2.0)), None: Option[Array[Double]]))
      .toDF("a", "b")
    val r = df.select(vector.array_dot(col("a"), col("b")).as("d")).head()
    assert(r.isNullAt(0))
  }

  test("SQL registration makes the functions callable from spark.sql") {
    vector.register(spark)
    Seq((Array(1.0, 0.0), Array(1.0, 0.0))).toDF("a", "b")
      .createOrReplaceTempView("graft_vec_test")
    val r = spark.sql(
      "SELECT array_cosine(a, b) AS c, array_dot(a, b) AS d FROM graft_vec_test").head()
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-12)
    assert(r.getDouble(1) == 1.0)
  }

  test("length mismatch uses the shorter prefix") {
    val df = Seq((Array(1.0, 2.0, 3.0), Array(10.0, 10.0))).toDF("a", "b")
    assert(df.select(vector.array_dot(col("a"), col("b"))).head().getDouble(0) == 30.0)
  }

  private def hofL2(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) =>
        (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
      lit(0.0), (acc, v) => acc + v)

  test("array_l2sq (double): BIT-equal to the HOF left fold it replaces — " +
    "same sequential IEEE op order, so every rounding step matches") {
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(4.0, 5.5, 6.25)),
      (Array(-1.5f, 0.1f, 2.5f), Array(2.0, -3.3, 0.5)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.3, 0.2, 0.1))
    ).toDF("f", "d")
    val rows = df.select(
      vector.array_l2sq(col("f"), col("d")).as("native"),
      hofL2(col("f"), col("d")).as("hof")).collect()
    rows.foreach(r =>
      assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToRawLongBits(r.getDouble(1))))
  }

  test("array_l2sq (long): exact int64 over micro-quantized arrays, " +
    "matching the HOF long fold value-for-value") {
    val df = Seq(
      (Array(1000000L, -2500000L, 3L), Array(999999L, 2500000L, -4L)),
      (Array(0L, 0L), Array(0L, 0L))
    ).toDF("a", "b")
    val rows = df.select(
      vector.array_l2sq(col("a"), col("b")).as("native"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
        lit(0L), (acc, v) => acc + v).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    assert(rows(0).getLong(0) == 1L + 5000000L * 5000000L + 49L)
  }

  test("array_l2sq: shorter prefix wins, nulls propagate") {
    val df = Seq((Array(1.0, 2.0, 9.0), Array(2.0, 4.0))).toDF("a", "b")
    assert(df.select(vector.array_l2sq(col("a"), col("b"))).head().getDouble(0) == 5.0)
    val dfn = Seq((Some(Array(1.0)), None: Option[Array[Double]])).toDF("a", "b")
    assert(dfn.select(vector.array_l2sq(col("a"), col("b"))).head().isNullAt(0))
  }

  test("array_l2sq: mixed element types fail analysis with their own message, " +
    "in the DataFrame and SQL forms") {
    val df = Seq((Array(1L, 2L), Array(1.0, 2.0), Array(1.0f, 2.0f), Array("x")))
      .toDF("l", "d", "f", "s")
    for ((a, b) <- Seq("l" -> "d", "d" -> "l", "f" -> "l", "s" -> "s")) {
      val e = intercept[org.apache.spark.sql.AnalysisException](
        df.select(vector.array_l2sq(col(a), col(b))))
      assert(e.getMessage.contains("both long, or both float/double"), s"($a, $b): ${e.getMessage}")
    }
    // float against double stays legal
    assert(df.select(vector.array_l2sq(col("f"), col("d"))).head().getDouble(0) == 0.0)
    vector.register(spark)
    df.createOrReplaceTempView("graft_l2_mixed")
    val e = intercept[org.apache.spark.sql.AnalysisException](
      spark.sql("SELECT array_l2sq(l, d) FROM graft_l2_mixed"))
    assert(e.getMessage.contains("both long, or both float/double"), e.getMessage)
  }

  test("array_l2sq: a null element yields NULL in both arms and both eval " +
    "paths, as the HOF does") {
    val local = Seq(
      (Seq(Some(1.0), None, Some(3.0)), Seq(Some(2.0), Some(4.0), Some(5.0))),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(1.0), None)),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(0.5), Some(2.0)))
    ).toDF("a", "b")
    // local rows fold through the interpreted eval; id-dependent arrays over
    // a range scan are not folded, so generated code runs
    val generated = spark.range(2).select(
      array(col("id").cast("double"), lit(null).cast("double")).as("a"),
      array(lit(1.0), col("id").cast("double")).as("b"))
    for ((df, valued) <- Seq(local -> 1, generated -> 0)) {
      val l = df.select(col("a").cast("array<bigint>").as("a"),
        col("b").cast("array<bigint>").as("b"))
      val rows = df.select(vector.array_l2sq(col("a"), col("b")),
          hofL2(col("a"), col("b"))).collect() ++
        l.select(vector.array_l2sq(col("a"), col("b")).cast("double"),
          aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
            lit(0L), (acc, v) => acc + v).cast("double")).collect()
      rows.foreach(r => assert(r.get(0) == r.get(1), r))
      assert(rows.count(!_.isNullAt(0)) == 2 * valued)
    }
  }

  /** Local rows (interpreted eval) and id-dependent arrays over a range scan
    * (generated code), each with null elements; `valued` rows hold none.
    */
  private def nullElementFrames: Seq[(org.apache.spark.sql.DataFrame, Int)] = Seq(
    Seq(
      (Seq(Some(1.0), None, Some(3.0)), Seq(Some(2.0), Some(4.0), Some(5.0))),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(1.0), None)),
      (Seq(Some(1.0), Some(2.0)), Seq(Some(0.5), Some(2.0)))
    ).toDF("a", "b") -> 1,
    spark.range(1, 3).select(
      array(col("id").cast("double"), lit(null).cast("double")).as("a"),
      array(lit(1.0), col("id").cast("double")).as("b")) -> 0)

  test("array_dot: a null element yields NULL in both eval paths, as the HOF does") {
    for ((df, valued) <- nullElementFrames) {
      val rows = df.select(vector.array_dot(col("a"), col("b")),
        hofDot(col("a"), col("b"))).collect()
      rows.foreach(r => assert(r.get(0) == r.get(1), r))
      assert(rows.count(!_.isNullAt(0)) == valued)
    }
  }

  test("array_cosine: a null element yields NULL in both eval paths, as the HOF does") {
    def hofCos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      hofDot(a, b) / (sqrt(hofDot(a, a)) * sqrt(hofDot(b, b)))
    for ((df, valued) <- nullElementFrames) {
      val rows = df.select(vector.array_cosine(col("a"), col("b")),
        hofCos(col("a"), col("b"))).collect()
      rows.foreach(r => assert(r.isNullAt(0) == r.isNullAt(1), r))
      rows.filterNot(_.isNullAt(0)).foreach(r =>
        assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-12, r))
      assert(rows.count(!_.isNullAt(0)) == valued)
    }
  }
}
