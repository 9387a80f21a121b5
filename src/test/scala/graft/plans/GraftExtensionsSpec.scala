package graft.plans

import graft.{Engine, SparkTestBase}
import graft.functions.{CosineSim, VectorOps}
import org.apache.spark.sql.functions._

class GraftExtensionsSpec extends SparkTestBase {

  test("ReplaceCosineHof rewrites composable cosine into the fused kernel") {
    spark.experimental.extraOptimizations = Seq(ReplaceCosineHof)
    try {
      val emb = Engine.Tables(spark, Sf0001).embeddings.limit(100)
      val df = emb.select(col("vec_id").as("a"), col("embedding").as("va"))
        .crossJoin(broadcast(emb.select(col("vec_id").as("b"), col("embedding").as("vb"))))
        .select(col("a"), col("b"), VectorOps.cosine(col("va"), col("vb")).as("c"))
      val optimized = df.queryExecution.optimizedPlan
      val fused = optimized.collect { case n =>
        n.expressions.flatMap(_.collect { case e: CosineSim => e }) }.flatten
      assert(fused.nonEmpty, s"rule did not fire:\n${optimized.treeString.take(1500)}")

      // results identical to the un-rewritten plan
      spark.experimental.extraOptimizations = Nil
      val want = df.orderBy("a", "b").collect().toSeq
      spark.experimental.extraOptimizations = Seq(ReplaceCosineHof)
      val got = df.orderBy("a", "b").collect().toSeq
      assert(got == want)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rule refuses (x,y) => x*x bait — not a dot product, must not rewrite") {
    spark.experimental.extraOptimizations = Seq(ReplaceCosineHof)
    try {
      import spark.implicits._
      val df = Seq((Seq(1.0, 2.0), Seq(3.0, 4.0))).toDF("a", "b")
        .select((aggregate(zip_with(col("a"), col("b"), (x, _) => x * x),
          lit(0.0), (acc, x) => acc + x) /
          (sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x)) *
            sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x * x)))).as("c"))
      val fused = df.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.flatMap(_.collect { case e: CosineSim => e }) }.flatten
      assert(fused.isEmpty, "x*x inside zip_with was miscompiled into a dot product")
      // sum(x*x over a) = 5; |a| = sqrt(5), |b| = 5 -> 5 / (5*sqrt(5))
      val v = df.head().getDouble(0)
      assert(math.abs(v - 5.0 / (math.sqrt(5.0) * 5.0)) < 1e-12,
        s"value corrupted by rewrite: $v")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rewrite propagates ANSI divide-by-zero: a zero-norm vector throws in both forms") {
    // regression for the NumericEvalContext comparison bug (r11): the rule
    // compared the whole context to EvalMode.ANSI — always false — so the
    // rewritten kernel silently returned null where the HOF form's ANSI
    // Divide throws. The evalMode must be read out of the context.
    spark.experimental.extraOptimizations = Seq(ReplaceCosineHof)
    try withConf("spark.sql.ansi.enabled" -> "true") {
      def zeroNorm = Engine.Tables(spark, Sf0001).embeddings.limit(1)
        .select(transform(col("embedding"), _ => lit(0.0d)).as("a"),
          col("embedding").cast("array<double>").as("b"))
        .select(graft.functions.VectorOps.cosine(col("a"), col("b")).as("c"))
      val df = zeroNorm
      val fused = df.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.flatMap(_.collect { case e: CosineSim => e }) }.flatten
      assert(fused.nonEmpty, "rewrite should fire on the zero-norm cosine form")
      assert(fused.forall(_.failOnError),
        "ANSI mode must propagate into the fused kernel's failOnError")
      val rewritten = intercept[Exception](df.collect())
      spark.experimental.extraOptimizations = Nil
      val hof = intercept[Exception](zeroNorm.collect())
      def code(e: Throwable): String =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(5)
          .map(_.getMessage).mkString(" | ")
      assert(code(rewritten).contains("DIVIDE_BY_ZERO") &&
        code(hof).contains("DIVIDE_BY_ZERO"),
        s"expected both forms to raise DIVIDE_BY_ZERO:\n${code(rewritten)}\n${code(hof)}")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rewrite preserves HOF null semantics: mismatched lengths stay null") {
    spark.experimental.extraOptimizations = Seq(ReplaceCosineHof)
    try {
      // parquet-backed (a LocalRelation would be constant-folded by
      // ConvertToLocalRelation before user-provided rules run)
      val df = Engine.Tables(spark, Sf0001).embeddings.limit(3)
        .select(col("embedding").as("a"), slice(col("embedding"), 1, 10).as("b"))
        .select(VectorOps.cosine(col("a"), col("b")).as("c"))
      val fused = df.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.flatMap(_.collect { case e: CosineSim => e }) }.flatten
      assert(fused.nonEmpty, "rewrite should fire on the plain cosine form")
      assert(df.head().isNullAt(0),
        "HOF cosine of mismatched arrays is null; the fused form must agree")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rule leaves non-cosine aggregate/zip_with patterns untouched") {
    spark.experimental.extraOptimizations = Seq(ReplaceCosineHof)
    try {
      val emb = Engine.Tables(spark, Sf0001).embeddings.limit(5)
      // dot without the norm product: must NOT be rewritten
      val df = emb.select(VectorOps.dot(col("embedding"), col("embedding")).as("d"))
      val fused = df.queryExecution.optimizedPlan.collect { case n =>
        n.expressions.flatMap(_.collect { case e: CosineSim => e }) }.flatten
      assert(fused.isEmpty)
      assert(df.count() == 5)
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("rewrite over int arrays keeps the to-double cast (no type-unsound kernel)") {
    spark.experimental.extraOptimizations = Seq(ReplaceCosineHof)
    try {
      import spark.implicits._
      // ints cast to array<double> produce EXACTLY the matched pattern;
      // stripping the cast would hand CosineSim 4-byte elements it reads
      // as 8-byte doubles — garbage with no error
      val df = Seq((Seq(1, 2), Seq(3, 4))).toDF("ia", "ib")
        .select(col("ia").cast("array<double>").as("a"),
          col("ib").cast("array<double>").as("b"))
        .select((aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x) /
          (sqrt(aggregate(col("a"), lit(0.0), (acc, x) => acc + x * x)) *
            sqrt(aggregate(col("b"), lit(0.0), (acc, x) => acc + x * x)))).as("c"))
      val got = df.head().getDouble(0)
      val want = 11.0 / (math.sqrt(5.0) * math.sqrt(25.0))
      assert(math.abs(got - want) < 1e-12,
        s"int-array cosine must stay numerically correct, got $got want $want")
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("production wiring: spark.sql.extensions = graft.plans.GraftExtensions " +
    "resolves the SQL functions and injects the rewrite in a fresh session") {
    import org.apache.spark.sql.SparkSession
    // Spark reads spark.sql.extensions from the running context's conf
    // when it builds a session; SparkEnv.conf is that same object. Set the
    // key, build a fresh session exactly the way a deployment would, then
    // restore the key and the shared session for the suites that follow.
    val shared = spark // forces the shared context up before reading its conf
    val key = "spark.sql.extensions"
    val conf = org.apache.spark.SparkEnv.get.conf
    val before = conf.getOption(key)
    conf.set(key, "graft.plans.GraftExtensions")
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val wired = try SparkSession.builder().getOrCreate() finally {
      before.fold(conf.remove(key))(conf.set(key, _))
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
    assert(wired ne shared)
    Engine.Tables(wired, Sf0001).embeddings.limit(10)
      .createOrReplaceTempView("emb_wired")
    val c = wired.sql("SELECT cosine_sim(a.embedding, b.embedding) FROM emb_wired a, " +
      "emb_wired b WHERE a.vec_id = 0 AND b.vec_id = 1").head().getDouble(0)
    assert(c >= -1 && c <= 1)
    val others = wired.sql(
      """SELECT dot_product(embedding, embedding) AS d,
        |       srp_buckets(embedding, 2, 4, 64, 42)[0] AS b,
        |       token_entropy(array('a','a','b')).entropy AS e,
        |       repetition_stats(array('a','a','b')).dup_word_frac AS r
        |FROM emb_wired WHERE vec_id = 0""".stripMargin).head()
    assert(others.getDouble(0) > 0 && !others.isNullAt(1) &&
      others.getDouble(2) > 0 && others.getDouble(3) > 0, others.toString)
    // every binary parser function resolves from the same wiring, with its
    // struct schema pinned, and runs whole-stage codegen'd through the
    // parser object's static compute
    val parserTypes = Seq(
      "image_dims" -> "struct<mime:string,width:int,height:int>",
      "audio_meta" ->
        "struct<mime:string,channels:int,sample_rate:int,bits:int,n_frames:bigint>",
      "video_meta" -> ("struct<mime:string,timescale:int,duration:bigint," +
        "duration_ms:bigint,n_tracks:int>"),
      "utf8_stats" ->
        "struct<valid:boolean,n_bytes:int,n_chars:int,n_invalid:int,n_ascii:int>",
      "mpeg_audio_meta" -> ("struct<mime:string,layer:int,bitrate_kbps:int," +
        "sample_rate:int,channels:int,duration_ms:bigint,frame_map:string,n_frames:bigint>"),
      "avc_sps_dims" -> "struct<profile_idc:int,level_idc:int,width:int,height:int>",
      "adts_meta" -> ("struct<mime:string,profile:string,sample_rate:int,channels:int," +
        "n_frames:int,duration_ms:bigint>"),
      "flac_meta" -> ("struct<mime:string,sample_rate:int,channels:int," +
        "bits_per_sample:int,total_samples:bigint,duration_ms:bigint>"),
      "ogg_opus_meta" -> ("struct<mime:string,channels:int,pre_skip:int," +
        "input_sample_rate:bigint,mapping_family:int,n_pages:int,duration_ms:bigint>"),
      "id3v2_tags" ->
        "struct<version:string,n_frames:int,title:string,artist:string,album:string>",
      "jpeg_exif" ->
        "struct<orientation:int,byte_order:string,icc_chunks:int,icc_bytes:bigint>")
    assert(graft.functions.MetaParser.all.map(_.name) == parserTypes.map(_._1))
    Engine.Tables(wired, Sf0001).documents.selectExpr("encode(text, 'UTF-8') AS payload")
      .limit(5).createOrReplaceTempView("docs_wired")
    val parsed = wired.sql(parserTypes.map { case (f, _) => s"$f(payload) AS $f" }
      .mkString("SELECT ", ", ", " FROM docs_wired"))
    assert(parsed.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq == parserTypes)
    assert(parsed.collect().length == 5)
    val code = org.apache.spark.sql.execution.debug.codegenString(
      parsed.queryExecution.executedPlan)
    graft.functions.MetaParser.all.foreach { p =>
      val call = p.getClass.getName.stripSuffix("$") + ".compute("
      assert(code.contains(call), s"${p.name}: no `$call` in the generated code")
    }
    // an unaliased parser column is named after the SQL function
    assert(wired.sql("SELECT audio_meta(payload) FROM docs_wired").columns.toSeq ==
      Seq("audio_meta(payload)"))
    // the optimizer rule rides the same wiring
    val hof = wired.table("emb_wired").limit(3)
      .select(VectorOps.cosine(col("embedding"), col("embedding")).as("c"))
    val fused = hof.queryExecution.optimizedPlan.collect { case n =>
      n.expressions.flatMap(_.collect { case e: CosineSim => e }) }.flatten
    assert(fused.nonEmpty,
      s"rule not injected:\n${hof.queryExecution.optimizedPlan.treeString.take(1500)}")
  }
}
