package graft

class GraftExtensionsSpec extends SparkSpecBase {

  test("vector kernels callable from SQL after registration") {
    GraftExtensions.register(spark)
    val r = spark.sql(
      """SELECT
        |  vec_dot(CAST(array(1.0, 2.0, 3.0) AS ARRAY<FLOAT>),
        |          CAST(array(4.0, 5.0, 6.0) AS ARRAY<FLOAT>)) AS d,
        |  vec_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
        |             CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS c,
        |  vec_l2(CAST(array(0.0, 3.0) AS ARRAY<FLOAT>),
        |         CAST(array(4.0, 0.0) AS ARRAY<FLOAT>)) AS l
      """.stripMargin).head()
    assert(r.getDouble(0) == 32.0)
    assert(math.abs(r.getDouble(1) - 1.0) < 1e-12)
    assert(r.getDouble(2) == 5.0)
    val qi = spark.sql(
      """SELECT vec_dot_i8(CAST(array(1, -2, 3) AS ARRAY<TINYINT>),
        |                  CAST(array(4, 5, 6) AS ARRAY<TINYINT>)) AS d
      """.stripMargin).head()
    assert(qi.getLong(0) == 4L - 10L + 18L)
  }

  test("wrong arity raises a clear error") {
    GraftExtensions.register(spark)
    val e = intercept[Exception](
      spark.sql("SELECT vec_dot(CAST(array(1.0) AS ARRAY<FLOAT>))").head())
    assert(e.getMessage.contains("2 arguments") || e.getMessage.contains("vec_dot"))
  }

  test("text-sketch kernels callable from SQL, equal to the ops builders") {
    GraftExtensions.register(spark)
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps over the lazy dog"))
      .toDF("doc_id", "text")
    docs.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      """SELECT
        |  minhash_sig(text, 8, 3) AS sig,
        |  simhash62(text) AS fp,
        |  winnow_fp(text, 8, 4) AS wf,
        |  ngram_dup_counts(text, 2) AS rep,
        |  distinct_ngram_codes(text, 2) AS ngc
        |FROM ext_docs""".stripMargin).head()
    val viaOps = docs.select(
      graft.expr.DedupKernel.minHashSigCol(
        graft.ops.Dedup.normText($"text"), 8, 3).as("sig"),
      graft.expr.DedupKernel.simHash62Col(
        graft.ops.Dedup.normText($"text")).as("fp"),
      graft.ops.TextAnalysis.winnowFps($"text").as("wf"),
      graft.expr.DedupKernel.ngramDupCountsCol(
        graft.ops.Dedup.normText($"text"), 2).as("rep"),
      graft.ops.Decontaminate.ngramSet($"text", 2).as("ngc")).head()
    assert(viaSql.getSeq[Long](0) == viaOps.getSeq[Long](0))
    assert(viaSql.getLong(1) == viaOps.getLong(1))
    assert(viaSql.getSeq[Long](2) == viaOps.getSeq[Long](2))
    assert(viaSql.getSeq[Long](3) == viaOps.getSeq[Long](3))
    assert(viaSql.getSeq[Long](3) == Seq(8L, 8L)) // 9 tokens, 8 distinct bigrams
    assert(viaSql.getSeq[Long](4) == viaOps.getSeq[Long](4))
    assert(viaSql.getSeq[Long](4).length == 8)
    // non-literal sketch params are rejected with a named error
    val e = intercept[Exception](
      spark.sql("SELECT minhash_sig(text, doc_id, 3) FROM ext_docs").head())
    assert(e.getMessage.contains("minhash_sig"))
  }

  test("sketch functions: wrong arity and non-literal params fail with the function's message") {
    GraftExtensions.register(spark)
    import spark.implicits._
    Seq((1L, "a b c")).toDF("doc_id", "text").createOrReplaceTempView("ext_args")
    val cases = Seq(
      "minhash_sig(text, 8)" -> "minhash_sig expects (normText, numHashes, w), got 2 args",
      "minhash_sig(text, doc_id, 3)" -> "minhash_sig: numHashes and w must be INT literals",
      "simhash62(text, 1)" -> "simhash62 expects (normText), got 2 args",
      "ngram_dup_counts(text, doc_id)" -> "ngram_dup_counts: n must be an INT literal",
      "distinct_ngram_codes(text)" -> "distinct_ngram_codes expects (normText, n), got 1 args",
      "winnow_fp(text, 8, CAST(4 AS BIGINT))" -> "winnow_fp: k and t must be INT literals")
    for ((call, msg) <- cases) {
      val e = intercept[Exception](spark.sql(s"SELECT $call FROM ext_args").head())
      assert(e.getMessage.contains(msg), s"$call: ${e.getMessage}")
    }
  }
}
