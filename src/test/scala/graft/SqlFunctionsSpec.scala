package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.plans.GraftFunctions

/** The native expressions exposed as SQL functions. */
class SqlFunctionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("minhash_tokens and shingle_tokens are callable from SQL") {
    GraftFunctions.register(spark)
    val row = spark.sql(
      """SELECT minhash_tokens(split('a b c d e', ' '), 3, 8) AS sig,
                shingle_tokens(split('a b c d e', ' '), 3) AS sh""").head
    assert(row.getSeq[Long](0).length === 8)
    assert(row.getSeq[String](1) === Seq("a b c", "b c d", "c d e"))
  }

  test("non-literal k/numPerms arguments fail with a clear analysis-time error") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq(("a b c d", 3)).toDF("t", "n").createOrReplaceTempView("fold_v")
    val e = intercept[Exception] {
      spark.sql("SELECT shingle_tokens(split(t, ' '), n) FROM fold_v").collect()
    }
    assert(e.getMessage.contains("integer literals"), e.getMessage)
  }

  test("lex_token_count matches the regex formulation on corpus text and edge cases") {
    GraftFunctions.register(spark)
    import spark.implicits._
    import graft.functions.{TextFunctions => TF}
    // corpus agreement: the char-class scan must lex exactly like the
    // regex it replaces (the q30 contract, also proved by the oracle)
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val mismatch = docs.select(
        size(TF.tokens(col("text"))).cast("long").as("ws_ref"),
        size(TF.regexTokens(col("text"))).cast("long").as("rx_ref"),
        graft.plans.TextStats.lexTokenCount(col("text")).as("tc"))
      .filter(col("tc.ws_tokens") =!= col("ws_ref") ||
        col("tc.rx_tokens") =!= col("rx_ref")).count()
    assert(mismatch === 0)
    // edge cases: tabs/newlines are \s for the lexer but NOT the
    // single-space ws split; punctuation runs lex per char; surrogate
    // pairs count once (regex matches per code point); null → null
    val edge = Seq("ab1 cd--2\tx\ny", "  ", "", "a😀b", null)
      .toDF("t").select(
        graft.plans.TextStats.lexTokenCount(col("t")).as("tc"),
        size(TF.tokens(col("t"))).cast("long").as("ws_ref"),
        size(TF.regexTokens(col("t"))).cast("long").as("rx_ref"))
    edge.collect().foreach { r =>
      if (r.isNullAt(0)) { assert(r.isNullAt(1) || r.getLong(1) === -1L) }
      else {
        assert(r.getStruct(0).getLong(0) === r.getLong(1), s"ws mismatch: $r")
        assert(r.getStruct(0).getLong(1) === r.getLong(2), s"rx mismatch: $r")
      }
    }
    // and it is callable from SQL
    val sqlRow = spark.sql(
      "SELECT lex_token_count('ab 12 c-d').ws_tokens AS w, " +
        "lex_token_count('ab 12 c-d').rx_tokens AS r").head
    assert(sqlRow.getLong(0) === 3L && sqlRow.getLong(1) === 5L)
  }

  test("native ShingleTokens matches the higher-order-function reference") {
    import graft.functions.{TextFunctions => TF}
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val mismatch = docs.select(
        TF.shingles(TF.tokens(col("text")), 3).as("hof"),
        graft.plans.ShingleTokens.shingleTokens(TF.tokens(col("text")), 3).as("native"))
      .filter(col("hof") =!= col("native")).count()
    assert(mismatch === 0)
  }

  test("native Tokens matches the filter/split higher-order reference") {
    import graft.functions.{TextFunctions => TF}
    def hofTokens(text: org.apache.spark.sql.Column) =
      filter(split(text, " "), t => t =!= lit(""))
    // corpus parity (the type must match too: non-null elements, like
    // filter(split(...)) declares)
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    val both = docs.select(TF.tokens(col("text")).as("native"),
      hofTokens(col("text")).as("hof"))
    assert(both.schema("native").dataType === both.schema("hof").dataType)
    assert(both.filter(!(col("native") <=> col("hof"))).count() === 0)
    // edges: multi-space runs, leading/trailing spaces, only spaces,
    // empty, unicode (multi-byte chars must not split), null → null
    import spark.implicits._
    val edge = Seq("a  b", " a b ", "   ", "", "héllo wörld 日本 語", null)
      .toDF("t")
      .select(TF.tokens(col("t")).as("native"), hofTokens(col("t")).as("hof"))
    assert(edge.filter(!(col("native") <=> col("hof"))).count() === 0)
  }

  test("native BigramHashes matches the paired ShingleHashes reference") {
    import graft.functions.{TextFunctions => TF}
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
    // pair i must be (ShingleHashes(toks,1)(i), ShingleHashes(toks,2)(i))
    // — exactly the two arrays the r17 q72 shape consumed separately
    val toks = TF.tokens(coalesce(col("text"), lit("")))
    val mismatch = docs.select(
        graft.plans.BigramHashes.bigramHashes(toks).as("pairs"),
        graft.plans.ShingleHashes.shingleHashes(toks, 1).as("h1s"),
        graft.plans.ShingleHashes.shingleHashes(toks, 2).as("h2s"))
      .filter(
        transform(col("pairs"), p => p.getField("h2")) =!= col("h2s") ||
        transform(col("pairs"), p => p.getField("h1")) =!=
          slice(col("h1s"), lit(1), greatest(size(col("h1s")) - 1, lit(0))))
      .count()
    assert(mismatch === 0)
    // edge cases: 0 and 1 token → empty pair array
    import spark.implicits._
    val edge = Seq("", "one", "two tokens").toDF("t")
      .select(graft.plans.BigramHashes.bigramHashes(
        TF.tokens(col("t"))).as("p"))
      .collect().map(_.getSeq[Any](0).length)
    assert(edge.toSeq === Seq(0, 0, 1))
  }

  test("BigramHashes refuses a token array with nullable elements at analysis") {
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(1).select(graft.plans.BigramHashes.bigramHashes(
        array(lit("a"), lit(null).cast("string"))))
    }
    assert(e.getMessage.contains("non-null elements"), e.getMessage)
  }

  test("native MarkFilter matches the higher-order filter/exists reference") {
    import graft.functions.{TextFunctions => TF}
    val win = 16
    // corpus tokens with deterministic synthetic marks (every 7th
    // position, offset 2) — plus hand-picked edge shapes below
    val docs = graft.sources.Tables.documents(spark, TestSpark.sf)
      .select(TF.tokens(coalesce(col("text"), lit(""))).as("w"))
      .withColumn("ms", expr("filter(sequence(0, size(w)), j -> j % 7 = 2 AND j < size(w))"))
    def hof(w: org.apache.spark.sql.Column, ms: org.apache.spark.sql.Column) =
      filter(w, (_, j) => !exists(ms, m => j >= m && j <= m + lit(win - 1)))
    val mismatch = docs.select(
        graft.plans.MarkFilter.markFilter(col("w"), col("ms"), win).as("native"),
        hof(col("w"), col("ms")).as("hofk"))
      .filter(col("native") =!= col("hofk")).count()
    assert(mismatch === 0)
    // edges: no marks, unsorted/overlapping marks, full coverage, tail mark
    import spark.implicits._
    val edge = Seq(
        ("a b c d e f g h", Seq[Int]()),
        ("a b c d e f g h", Seq(4, 0, 2)),
        ("a b", Seq(0)),
        ("a b c d e", Seq(3))
      ).toDF("t", "ms")
      .select(TF.tokens(col("t")).as("w"), col("ms"))
    val bad = edge.select(
        graft.plans.MarkFilter.markFilter(col("w"), col("ms"), 3).as("native"),
        filter(col("w"), (_, j) => !exists(col("ms"),
          m => j >= m && j <= m + lit(2))).as("hofk"))
      .filter(col("native") =!= col("hofk")).count()
    assert(bad === 0)
  }

  test("oracle SQL texts are ANSI enough to run on Spark SQL itself") {
    graft.sources.Tables.all.foreach {
      case "events" =>
        graft.sources.Tables.events(spark, TestSpark.sf).createOrReplaceTempView("events")
      case t =>
        graft.sources.Tables.load(spark, TestSpark.sf, t).createOrReplaceTempView(t)
    }
    // queries whose oracle SQL is pure ANSI (no DuckDB-only functions)
    Seq("q01_pricing_summary", "q03_broadcast_join", "q04_semi_join",
        "q07_distinct_union", "q16_rollup", "q39_distinct_users",
        "q49_date_battery").foreach { name =>
      val viaSql = spark.sql(SparkEntry.oracleSql(name))
      val viaDf = SparkEntry.queries(name)(spark, TestSpark.sf)
      assert(viaSql.exceptAll(viaDf).count() === 0, s"$name sql-vs-df")
      assert(viaDf.exceptAll(viaSql).count() === 0, s"$name df-vs-sql")
    }
  }

  test("VecDot rejects un-cast float arrays at analysis time, not runtime") {
    import org.apache.spark.sql.AnalysisException
    val emb = graft.sources.Tables.embeddings(spark, TestSpark.sf).limit(20)
    // raw array<float> input is now a clear DATATYPE_MISMATCH analysis
    // error (was: ClassCastException deep inside task execution)
    val e = intercept[AnalysisException] {
      emb.select(graft.plans.VecDot.vecDot(col("embedding"), col("embedding")).as("d")).collect()
    }
    assert(e.getMessage.contains("ARRAY<DOUBLE>"), e.getMessage)
    // and the documented path — asDouble at projection time — works
    import graft.functions.{VectorFunctions => VF}
    val viaNative = emb.select(graft.plans.VecDot.vecDot(
      VF.asDouble(col("embedding")), VF.asDouble(col("embedding"))).as("d"))
    val viaHof = emb.select(VF.dot(col("embedding"), col("embedding")).as("d"))
    assert(viaNative.exceptAll(viaHof).count() === 0)
  }

  test("VecDot rejects length-mismatched arrays loudly") {
    import spark.implicits._
    val df = Seq((Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0))).toDF("a", "b")
    val e = intercept[Exception] {
      df.select(graft.plans.VecDot.vecDot(col("a"), col("b"))).collect()
    }
    assert(e.getMessage.contains("equal length") ||
      e.getCause != null && e.getCause.getMessage.contains("equal length"),
      e.toString)
  }

  test("full native surface is SQL-callable and matches the Column API") {
    GraftFunctions.register(spark)
    graft.sources.Tables.documents(spark, TestSpark.sf)
      .limit(20).createOrReplaceTempView("docs20")
    // scalar natives
    val viaSql = spark.sql(
      """SELECT doc_id,
           simhash_tokens(filter(split(text, ' '), x -> x != '')) AS sh,
           text_stats(text, array('the', 'a')).n_tokens AS nt,
           rolling_fingerprint(text, 16).fp_min AS fp,
           repetition_stats(text).top_bigram AS tb
         FROM docs20""")
    import graft.functions.{TextFunctions => TF}
    val viaApi = spark.table("docs20").select(col("doc_id"),
      TF.simhash64(TF.tokens(col("text"))).as("sh"),
      graft.plans.TextStats.textStats(col("text"), Seq("the", "a"))
        .getField("n_tokens").as("nt"),
      graft.plans.TextStats.rollingFingerprint(col("text"), 16)
        .getField("fp_min").as("fp"),
      graft.plans.RepetitionStats.repetitionStats(col("text"))
        .getField("top_bigram").as("tb"))
    assert(viaSql.exceptAll(viaApi).count() === 0)
    assert(viaApi.exceptAll(viaSql).count() === 0)
    // vector natives
    graft.sources.Tables.embeddings(spark, TestSpark.sf)
      .limit(20).createOrReplaceTempView("emb20")
    val vecSql = spark.sql(
      """SELECT vec_id,
           vec_dot(cast(embedding AS array<double>), cast(embedding AS array<double>)) AS d,
           hyperplane_signature(cast(embedding AS array<double>), 8) AS b,
           int8_quant_stats(cast(embedding AS array<double>)).sum_q AS sq
         FROM emb20""")
    import graft.functions.{VectorFunctions => VF}
    val vecApi = spark.table("emb20").select(col("vec_id"),
      VF.dotD(VF.asDouble(col("embedding")), VF.asDouble(col("embedding"))).as("d"),
      VF.hyperplaneSignature(VF.asDouble(col("embedding")), 8).as("b"),
      graft.plans.VecQuant.int8QuantStats(VF.asDouble(col("embedding")))
        .getField("sum_q").as("sq"))
    assert(vecSql.exceptAll(vecApi).count() === 0)
    // aggregates — the analyzer must wrap the bare AggregateFunction
    val aggSql = spark.sql(
      """SELECT lang, minhash_union(minhash_tokens(split(text, ' '), 3, 16), 16) AS u,
           top_k_pairs(struct(cast(n_chars AS double), doc_id), 3) AS tk,
           bottom_k_ids(struct(md5(cast(doc_id AS string)), doc_id), 3) AS bk,
           vec_sum(array(cast(n_chars AS double))) AS vs
         FROM docs20 GROUP BY lang""")
    val aggApi = spark.table("docs20").groupBy("lang").agg(
      graft.plans.MinHashUnion.minhashUnion(
        graft.plans.MinHashTokens.minhashTokens(split(col("text"), " "), 3, 16), 16).as("u"),
      graft.plans.TopKPairs.topK(
        struct(col("n_chars").cast("double"), col("doc_id")), 3).as("tk"),
      graft.plans.BottomKIds.bottomK(
        struct(md5(col("doc_id").cast("string").cast("binary")), col("doc_id")), 3).as("bk"),
      graft.plans.VecSum.vecSum(array(col("n_chars").cast("double"))).as("vs"))
    assert(aggSql.exceptAll(aggApi).count() === 0)
    assert(aggApi.exceptAll(aggSql).count() === 0)
  }

  test("pq_adc is SQL-callable and sums table entries by code") {
    GraftFunctions.register(spark)
    val got = spark.sql(
      """SELECT pq_adc(array(1L, 0L),
           array(array(10.0d, 20.0d), array(30.0d, 40.0d))) AS adc""")
      .head.getDouble(0)
    assert(got === 20.0 + 30.0) // block 0 → code 1 (20), block 1 → code 0 (30)
  }

  test("char_stats is SQL-callable and matches the explode formulation") {
    GraftFunctions.register(spark)
    graft.sources.Tables.documents(spark, TestSpark.sf)
      .limit(50).createOrReplaceTempView("docs50")
    val native = spark.sql(
      """SELECT doc_id, char_stats(text).n AS n,
           char_stats(text).distinct_chars AS dc,
           round(char_stats(text).sum_cln, 9) AS s
         FROM docs50 WHERE text IS NOT NULL AND length(text) > 0""")
    val hof = spark.sql(
      """SELECT doc_id, n, dc, round(aggregate(cs, 0.0d,
           (a, x) -> a + CAST(x.c AS DOUBLE) * ln(CAST(x.c AS DOUBLE))), 9) AS s
         FROM (
           SELECT doc_id, sum(c) AS n, count(*) AS dc,
             sort_array(collect_list(struct(ch, c))) AS cs
           FROM (
             SELECT doc_id, ch, count(*) AS c
             FROM (SELECT doc_id, explode(split(text, '')) AS ch FROM docs50)
             WHERE ch <> '' GROUP BY doc_id, ch)
           GROUP BY doc_id)""")
    assert(native.exceptAll(hof).count() === 0)
    assert(hof.exceptAll(native).count() === 0)
  }

  test("SQL minhash matches the Column API") {
    GraftFunctions.register(spark)
    graft.sources.Tables.documents(spark, TestSpark.sf)
      .limit(5).createOrReplaceTempView("docs5")
    val viaSql = spark.sql(
      "SELECT doc_id, minhash_tokens(split(text, ' '), 3, 16) AS sig FROM docs5")
    val viaApi = spark.table("docs5").select(col("doc_id"),
      graft.plans.MinHashTokens.minhashTokens(split(col("text"), " "), 3, 16).as("sig"))
    assert(viaSql.except(viaApi).count() === 0)
    assert(viaApi.except(viaSql).count() === 0)
  }
}
