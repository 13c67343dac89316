package graft

import graft.plans._

/** Every registered `graft_*` SQL function must reject wrong arity and
  * NULL literal arguments with an error that NAMES the function — raw SQL
  * reaches the builders with nothing pre-validated, so an unguarded
  * `children(1)` would surface as IndexOutOfBoundsException and a NULL
  * literal as an NPE (VERDICT r15 #3). The same builders back
  * GraftExtensions, so this covers the spark.sql.extensions route too.
  */
class BuilderGuardSpec extends SparkSpec {

  private def registerAll(): Unit = {
    GraftFunctions.register(spark)
    LnFpFunctions.register(spark)
    Md5PrefixLong.register(spark)
    SimhashLong.register(spark)
    MinhashSigLong.register(spark)
    VectorSumLong.register(spark)
    WinnowLong.register(spark)
    AhoCorasickCount.register(spark)
    SubwordCount.register(spark)
    CdcBoundariesLong.register(spark)
    LcsTokensLong.register(spark)
    BpeSegment.register(spark)
    UnigramSegment.register(spark)
    HtmlStrip.register(spark)
    LangIdLong.register(spark)
  }

  /** The builder error may be wrapped (AnalysisException chains); assert
    * the function name appears somewhere in the message chain and that no
    * frame is the unnamed IndexOutOfBounds/NPE/NoSuchElement failure.
    */
  private def assertNamedError(name: String, sql: String): Unit = {
    registerAll()
    val t = intercept[Throwable](spark.sql(sql).collect())
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(8).toSeq
    assert(!chain.exists(e => e.isInstanceOf[IndexOutOfBoundsException] ||
      e.isInstanceOf[NullPointerException] ||
      e.isInstanceOf[NoSuchElementException]),
      s"$sql must not fail with an unnamed error; got $chain")
    assert(chain.exists(e => Option(e.getMessage).exists(_.contains(name))),
      s"$sql error must name $name; got ${chain.map(_.getMessage)}")
  }

  // (name, a wrong-arity call) for every registered function: one arg
  // missing or one extra relative to the real signature.
  private val wrongArity = Seq(
    GraftFunctions.DotLongName -> "SELECT graft_dot_long(array(1L))",
    GraftFunctions.PqAdcName -> "SELECT graft_pq_adc(array(1L))",
    GraftFunctions.PqAdcDirectName -> "SELECT graft_pq_adc_direct(array(1L))",
    GraftFunctions.PqEncodeName -> "SELECT graft_pq_encode(array(1L))",
    GraftFunctions.LshBucketsName -> "SELECT graft_lsh_buckets(array(1L))",
    GraftFunctions.MisraGriesName -> "SELECT graft_misra_gries(1L)",
    KmvSketch.Name -> "SELECT graft_kmv(1L)",
    CountMinSketch.Name -> "SELECT graft_count_min(1L)",
    LnFpFunctions.LnMicroName -> "SELECT graft_ln_micro(1L)",
    LnFpFunctions.GumbelMicroName -> "SELECT graft_gumbel_micro(1L, 2L)",
    Md5PrefixLong.Name -> "SELECT graft_md5_prefix_long('x')",
    SimhashLong.Name -> "SELECT graft_simhash_long('x', 'y')",
    MinhashSigLong.Name -> "SELECT graft_minhash_sig('x')",
    VectorSumLong.Name -> "SELECT graft_vector_sum(array(1L), array(2L))",
    WinnowLong.Name -> "SELECT graft_winnow_long('x', 4)",
    AhoCorasickCount.Name -> "SELECT graft_aho_corasick('x')",
    SubwordCount.Name -> "SELECT graft_subword_count('x')",
    CdcBoundariesLong.Name -> "SELECT graft_cdc_boundaries('x', 3)",
    LcsTokensLong.Name -> "SELECT graft_lcs_tokens('x')",
    BpeSegment.Name -> "SELECT graft_bpe_segment('x')",
    UnigramSegment.Name -> "SELECT graft_unigram_segment('x', array('a'))",
    HtmlStrip.Name -> "SELECT graft_html_strip()")

  wrongArity.foreach { case (name, sql) =>
    test(s"$name rejects wrong arity with a named error") {
      assertNamedError(name, sql)
    }
  }

  // NULL where the builder bakes a plan-time literal into the expression —
  // these would NPE without the litValue guard.
  private val nullLiteral = Seq(
    AhoCorasickCount.Name ->
      "SELECT graft_aho_corasick('x', CAST(NULL AS array<string>))",
    SubwordCount.Name ->
      "SELECT graft_subword_count('x', CAST(NULL AS array<string>))",
    BpeSegment.Name ->
      "SELECT graft_bpe_segment('x', CAST(NULL AS array<string>))",
    UnigramSegment.Name ->
      "SELECT graft_unigram_segment('x', CAST(NULL AS array<string>), array(1L))",
    UnigramSegment.Name ->
      "SELECT graft_unigram_segment('x', array('a'), CAST(NULL AS array<bigint>))",
    Md5PrefixLong.Name ->
      "SELECT graft_md5_prefix_long('x', CAST(NULL AS int))",
    WinnowLong.Name ->
      "SELECT graft_winnow_long('x', CAST(NULL AS int), 4)",
    CdcBoundariesLong.Name ->
      "SELECT graft_cdc_boundaries('x', CAST(NULL AS int), 7)",
    KmvSketch.Name -> "SELECT graft_kmv(1L, CAST(NULL AS int))",
    CountMinSketch.Name ->
      "SELECT graft_count_min(1L, CAST(NULL AS int), 3)",
    GraftFunctions.MisraGriesName ->
      "SELECT graft_misra_gries(1L, CAST(NULL AS int))",
    LangIdLong.Name ->
      "SELECT graft_lang_id('the', array('en'), array(array('the', NULL)))")

  nullLiteral.zipWithIndex.foreach { case ((name, sql), i) =>
    test(s"$name rejects NULL literal argument with a named error ($i)") {
      assertNamedError(name, sql)
    }
  }

  test(s"${LangIdLong.Name} rejects more than 64 word sets at plan time") {
    registerAll()
    // n one-word sets: label li for the set {wi}
    def langIdSql(n: Int): String = {
      val labels = (0 until n).map(i => s"'l$i'").mkString(", ")
      val sets = (0 until n).map(i => s"array('w$i')").mkString(", ")
      s"SELECT graft_lang_id('w1', array($labels), array($sets))"
    }
    // spark.sql analyzes eagerly, so the builder fails before any eval
    val t = intercept[Throwable](spark.sql(langIdSql(65)))
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq
    assert(chain.exists(e => Option(e.getMessage).exists(m =>
      m.contains(LangIdLong.Name) && m.contains("at most 64 word sets"))),
      s"got ${chain.map(_.getMessage)}")
    val e = intercept[IllegalArgumentException](LangIdLong(
      org.apache.spark.sql.catalyst.expressions.Literal("w1"),
      (0 until 65).map(i => s"l$i"), (0 until 65).map(i => Seq(s"w$i"))))
    assert(e.getMessage.contains("at most 64 word sets"))
    assert(spark.sql(langIdSql(64)).head().getString(0) == "l1")
  }
}
