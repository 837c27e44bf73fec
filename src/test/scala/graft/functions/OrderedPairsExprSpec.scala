package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The native ordered-pairs expression behind q11's inverted-index
  * candidate path: parity with the reference pair enumeration, input-order
  * independence (collect_list order is nondeterministic upstream),
  * null/edge handling, and whole-stage codegen participation with
  * fallback disabled (the same static-forwarder contract ShinglesExpr
  * pins — see ShinglesExprSpec). */
class OrderedPairsExprSpec extends SparkSpec {

  private def refPairs(xs: Seq[Long]): Seq[(Long, Long)] = {
    // strict a < b over the distinct values — the old self-join's
    // `a.doc_id < b.doc_id` semantics
    val s = xs.distinct.sorted
    for (i <- s.indices; j <- (i + 1) until s.size) yield (s(i), s(j))
  }

  test("output == all ordered pairs a < b, regardless of input order") {
    import spark.implicits._
    val inputs: Seq[Seq[Long]] = Seq(
      Seq(3L, 1L, 2L),
      Seq(9L, 9L - 2L, 5L, 1L, 7L),
      Seq(42L, 7L),          // one pair
      Seq(5L),               // no pair
      Seq.empty[Long],       // no pair
      (1L to 20L).reverse)   // 190 pairs, reversed input
    val df = inputs.toDF("ds")
      .select(col("ds"), OrderedPairsExpr.pairsCol(col("ds")).as("p"))
    df.collect().foreach { r =>
      val in = r.getSeq[Long](0)
      val got = r.getSeq[org.apache.spark.sql.Row](1)
        .map(x => (x.getLong(0), x.getLong(1)))
      assert(got === refPairs(in), s"for input $in")
      got.foreach { case (a, b) => assert(a < b) }
    }
  }

  test("null array yields null; non-array<bigint> rejected at analysis") {
    import spark.implicits._
    val df = Seq(Option(Seq(1L, 2L)), None).toDF("ds")
      .select(OrderedPairsExpr.pairsCol(col("ds")).as("p"))
    val rows = df.collect()
    assert(rows(0).getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getLong(0), x.getLong(1))) === Seq((1L, 2L)))
    assert(rows(1).isNullAt(0))
    intercept[org.apache.spark.sql.AnalysisException] {
      Seq("a").toDF("s").select(OrderedPairsExpr.pairsCol(col("s"))).collect()
    }
    // array<bigint> whose elements may be null: rejected, not read as 0
    val nullable = Seq(Seq[java.lang.Long](1L, null)).toDF("ds")
    assert(nullable.schema("ds").dataType === org.apache.spark.sql.types
      .ArrayType(org.apache.spark.sql.types.LongType, containsNull = true))
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      nullable.select(OrderedPairsExpr.pairsCol(col("ds"))).collect()
    }
    assert(e.getMessage.contains("without null elements"), e.getMessage)
  }

  test("generated code compiles and runs under codegen.fallback=false") {
    import spark.implicits._
    val prevFallback = spark.conf.get("spark.sql.codegen.fallback")
    val prevWhole = spark.conf.get("spark.sql.codegen.wholeStage")
    try {
      spark.conf.set("spark.sql.codegen.fallback", "false")
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      val df = Seq(Seq(4L, 2L, 8L, 6L)).toDF("ds")
        .select(explode(OrderedPairsExpr.pairsCol(col("ds"))).as("p"))
        .select(col("p.a"), col("p.b"))
      val wscg = df.queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
      assert(wscg.nonEmpty, df.queryExecution.executedPlan.toString)
      assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ===
        refPairs(Seq(4L, 2L, 8L, 6L)))
    } finally {
      spark.conf.set("spark.sql.codegen.fallback", prevFallback)
      spark.conf.set("spark.sql.codegen.wholeStage", prevWhole)
    }
  }
}
