package graft.functions

import graft.{Engine, SparkTestBase}
import org.apache.spark.sql.functions._

/** The fused codegen'd kernel must be bit-identical to the composable
  * higher-order-function form (and hence to the DuckDB oracle). */
class CosineSimSpec extends SparkTestBase {

  test("fused cosine == composable cosine, bit-exact, on real embeddings") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .filter(col("a") < col("b")).limit(2000)
    val diff = pairs.select(
      CosineSim.cosine_sim(col("va"), col("vb")).as("fused"),
      VectorOps.cosine(col("va"), col("vb")).as("composed"))
      .filter(col("fused") =!= col("composed"))
    assert(diff.count() == 0, "fused kernel diverged from composable form")
  }

  test("SQL registration: cosine_sim usable from spark.sql") {
    graft.plans.GraftExtensions.register(spark)
    Engine.Tables(spark, Sf0001).embeddings.createOrReplaceTempView("emb_cs")
    val n = spark.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) AS c
        |FROM emb_cs a JOIN emb_cs b ON a.vec_id = 0 AND b.vec_id = 1""".stripMargin)
      .head().getDouble(0)
    assert(n >= -1.0 && n <= 1.0)
  }

  test("null semantics mirror the HOF form: mismatch/null-element -> null") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val out = df.select(CosineSim.cosine_sim(col("a"), col("b"))).collect()
    assert(out.forall(_.isNullAt(0)), "mismatched lengths must yield null")
    graft.plans.GraftExtensions.register(spark)
    val nullElem = spark.sql(
      "SELECT cosine_sim(array(1.0D, CAST(NULL AS DOUBLE)), array(1.0D, 2.0D)) AS c")
    assert(nullElem.head().isNullAt(0), "null element must yield null")
    val nullArr = spark.sql(
      "SELECT cosine_sim(CAST(NULL AS ARRAY<DOUBLE>), array(1.0D, 2.0D)) AS c")
    assert(nullArr.head().isNullAt(0), "null array must yield null")
  }

  test("zero-norm vector follows Divide semantics: ANSI throws, non-ANSI null — in BOTH forms") {
    import spark.implicits._
    val df = Seq((Seq(0.0f, 0.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
    // Spark 4 defaults ansi.enabled=true: the HOF form's Divide throws
    // DIVIDE_BY_ZERO on a zero-norm vector, so the fused kernel must too —
    // otherwise ReplaceCosineHof silently rewrites an error into a null.
    assert(spark.conf.get("spark.sql.ansi.enabled") == "true", "test assumes ANSI default")
    val hofThrown = intercept[Exception] {
      df.select(VectorOps.cosine(col("a"), col("b")).as("c")).collect()
    }
    assert(hofThrown.getMessage.contains("DIVIDE_BY_ZERO"))
    val fusedThrown = intercept[Exception] {
      df.select(CosineSim.cosine_sim(col("a"), col("b")).as("c")).collect()
    }
    assert(fusedThrown.getMessage.contains("DIVIDE_BY_ZERO"))
    // With ANSI off both forms return null. failOnError is captured at
    // expression construction (like Divide's evalMode), so build the
    // columns after the conf flips.
    withConf("spark.sql.ansi.enabled" -> "false") {
      val rows = df.select(
        CosineSim.cosine_sim(col("a"), col("b")).as("fused"),
        VectorOps.cosine(col("a"), col("b")).as("composed")).collect()
      assert(rows.forall(r => r.isNullAt(0) && r.isNullAt(1)),
        "non-ANSI zero norm must be null in both forms")
    }
  }

  test("fused dot product == composable dot, bit-exact; null on mismatch") {
    val emb = Engine.Tables(spark, Sf0001).embeddings.limit(200)
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
    val diff = pairs.select(
      DotProduct.dot_product(col("va"), col("vb")).as("fused"),
      VectorOps.dot(col("va"), col("vb")).as("composed"))
      .filter(col("fused") =!= col("composed"))
    assert(diff.count() == 0, "fused dot diverged from composable form")
    import spark.implicits._
    val mm = Seq((Seq(1.0f), Seq(1.0f, 2.0f))).toDF("a", "b")
      .select(DotProduct.dot_product(col("a"), col("b"))).collect()
    assert(mm.forall(_.isNullAt(0)))
  }

  test("self-similarity is 1.0") {
    val one = Engine.Tables(spark, Sf0001).embeddings.limit(5)
      .select(CosineSim.cosine_sim(col("embedding"), col("embedding")).as("c"))
      .collect()
    assert(one.forall(r => math.abs(r.getDouble(0) - 1.0) < 1e-6))
  }

  test("precomputed-norm cosine (dot/(na*nb)) == fused kernel, bit-exact") {
    // the form embeddingNearDups/semanticDedup use to amortize norms
    // across n² pairs must equal CosineSim exactly, not just approximately
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val withN = emb.select(col("vec_id"), col("embedding"),
      sqrt(DotProduct.dot_product(col("embedding"), col("embedding"))).as("n"))
    val pairs = withN.select(col("vec_id").as("a"), col("embedding").as("va"), col("n").as("na"))
      .crossJoin(withN.select(col("vec_id").as("b"), col("embedding").as("vb"), col("n").as("nb")))
      .filter(col("a") < col("b")).limit(2000)
    val diff = pairs.select(
      (DotProduct.dot_product(col("va"), col("vb")) / (col("na") * col("nb"))).as("pre"),
      CosineSim.cosine_sim(col("va"), col("vb")).as("fused"))
      .filter(col("pre") =!= col("fused"))
    assert(diff.count() == 0, "precomputed-norm cosine diverged from the fused kernel")
  }

  test("fused L2 distance == composable HOF form, bit-exact, on real embeddings") {
    val emb = Engine.Tables(spark, Sf0001).embeddings
    val pairs = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
      .crossJoin(emb.select(col("vec_id").as("b"), col("embedding").as("vb")))
      .filter(col("a") < col("b")).limit(2000)
    val diff = pairs.select(
      L2Dist.l2_dist(col("va"), col("vb")).as("fused"),
      VectorOps.l2Dist(col("va"), col("vb")).as("composed"))
      .filter(col("fused") =!= col("composed"))
    assert(diff.count() == 0, "fused L2 kernel diverged from composable form")
    // null semantics mirror the HOF: length mismatch -> null
    import spark.implicits._
    val mm = Seq((Seq(1.0, 2.0), Seq(1.0))).toDF("a", "b")
      .select(L2Dist.l2_dist(col("a"), col("b"))).collect()
    assert(mm.forall(_.isNullAt(0)))
  }

  test("SQL registration: the whole kernel-function surface resolves from spark.sql") {
    graft.plans.GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |       repetition_stats(array('a','a','b')).dup_word_frac AS rep,
        |       token_entropy(array('a','a','b','b')).entropy AS ent,
        |       size(srp_buckets(array(1.0D, 2.0D), 3, 4, 2, 42)) AS nb""".stripMargin)
      .head()
    assert(r.getDouble(0) == 11.0)
    assert(math.abs(r.getDouble(1) - 1.0 / 3) < 1e-9)
    // raw kernel value: the scaled-long term quantization lands ~2.6e-7
    // above the true 1 bit; operators round with r4
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-6)
    assert(r.getInt(3) == 3)
  }

  test("srp_buckets SQL builder rejects non-literal knob arguments") {
    graft.plans.GraftExtensions.register(spark)
    val e = intercept[Exception](spark.sql(
      "SELECT srp_buckets(array(1.0D), cast(rand()*2 AS INT) + 1, 4, 1, 42)").collect())
    assert(e.getMessage.contains("integer literal"), e.getMessage)
  }
}
