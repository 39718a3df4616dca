package graft

import graft.functions.{Funcs, RollingFingerprint}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Custom-extension layer: the codegen'd Catalyst expression equals
  * its composable twin. */
class ExtensionsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("RollingFingerprint equals the composable Funcs.fingerprint") {
    RollingFingerprint.register(spark)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val mismatches = docs
      .select(expr("rolling_fingerprint(text)").as("native"),
        Funcs.fingerprint(col("text")).as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(mismatches == 0)
    // unicode + empty edge cases
    val edge = Seq("", "héllo", "好的 world", "a").toDF("s")
      .select(expr("rolling_fingerprint(s)").as("n"),
        Funcs.fingerprint(col("s")).as("c"))
      .collect()
    edge.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("RollingFingerprint interpreted eval matches codegen") {
    // collect through a non-codegen path (local relation eval)
    RollingFingerprint.register(spark)
    val v = Seq("LoadLibrary").toDF("s")
      .select(expr("rolling_fingerprint(s)")).collect()(0).getLong(0)
    var h = 0L
    "LoadLibrary".foreach(ch => h = (h * 31 + ch.toInt) % 2147483647L)
    assert(v == h)
  }

  test("CharShingleGenerator equals explode(charShingles) incl. edges") {
    graft.functions.CharShingleGenerator.register(spark)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val viaGen = docs.selectExpr("doc_id", "char_shingles(text, 14) AS s")
      .groupBy("doc_id").count()
    val viaExplode = docs.select(col("doc_id"),
        explode(Funcs.charShingles(col("text"), 14)).as("s"))
      .groupBy("doc_id").count()
    assert(viaGen.exceptAll(viaExplode).count() == 0)
    assert(viaExplode.exceptAll(viaGen).count() == 0)
    // short-string edge: one truncated shingle
    val edge = Seq("abc").toDF("t")
      .selectExpr("char_shingles(t, 14) AS s").as[String].collect()
    assert(edge.toSeq == Seq("abc"))
  }

  test("DistinctShingleCount equals size(array_distinct(charShingles))") {
    graft.functions.DistinctShingleCount.register(spark)
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val mismatch = docs
      .select(expr("distinct_shingles(text, 14)").as("native"),
        size(array_distinct(Funcs.charShingles(col("text"), 14)))
          .cast("long").as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(mismatch == 0)
    // edges: empty, shorter-than-window, exact-window, repeats, unicode
    val edge = Seq("", "abc", "abcdefghijklmn", "aaaaaaaaaaaaaaaaaa",
      "héllo wörld — ambiguë", "好的 world 好的 world 好的")
      .toDF("s")
      .select(expr("distinct_shingles(s, 14)").as("n"),
        size(array_distinct(Funcs.charShingles(col("s"), 14)))
          .cast("long").as("c"))
      .collect()
    edge.foreach(r => assert(r.getLong(0) == r.getLong(1)))
    // small width across the same edges
    val edge3 = Seq("", "ab", "abc", "aaaa", "好的好")
      .toDF("s")
      .select(expr("distinct_shingles(s, 3)").as("n"),
        size(array_distinct(Funcs.charShingles(col("s"), 3)))
          .cast("long").as("c"))
      .collect()
    edge3.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("MinHashSigs and SimHashBits equal their composable HOF forms") {
    import graft.functions.{MinHashSigs, SimHashBits}
    val P = 2147483647L
    val params = (0 until 16).map { j =>
      ((1000003L * (2 * j + 3)) % P, (998244353L * (j + 7)) % P)
    }
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "t_minhash", exprs => MinHashSigs(exprs.head, params, P), "scala_udf")
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "t_simhash", exprs => SimHashBits(exprs.head, 32), "scala_udf")
    val hs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(transform(array_distinct(Funcs.tokens(col("text"))),
        t => Funcs.md5Long(t, 8)).as("hs"))
    val composedSigs = params.map { case (a, b) =>
      array_min(transform(col("hs"), h => (h * a + b) % P))
    }
    val sigMismatch = hs
      .select(call_function("t_minhash", col("hs")).as("native"),
        array(composedSigs: _*).as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(sigMismatch == 0)
    val simComposed = (0 until 32).map { b =>
      val vote = aggregate(col("hs"), lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(lit(1L)) * 2 - 1))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
    val simMismatch = hs
      .select(call_function("t_simhash", col("hs")).as("native"),
        simComposed.as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(simMismatch == 0)
  }

  test("ShingleMd5s equals the composable md5Long-over-shingles as a set") {
    import graft.functions.ShingleMd5s
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "t_shingle_md5s",
      exprs => ShingleMd5s(exprs.head, 64, 14, 7), "scala_udf")
    val composed = transform(
      array_distinct(Funcs.charShingles(substring(col("text"), 1, 64), 14)),
      x => Funcs.md5Long(x, 7))
    val mismatch = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(
        array_sort(call_function("t_shingle_md5s", col("text"))).as("native"),
        array_sort(composed).as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(mismatch == 0)
    // unicode + short-text edges
    val edge = Seq("", "ab", "好的 wörld — ambiguë 好的 wörld longer text")
      .toDF("text")
      .select(array_sort(call_function("t_shingle_md5s", col("text"))).as("n"),
        array_sort(composed).as("c"))
      .collect()
    edge.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("TokenMd5s equals the composable md5Long-over-distinct-tokens") {
    import graft.functions.TokenMd5s
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "t_token_md5s", exprs => TokenMd5s(exprs.head, 8), "scala_udf")
    val composed = transform(array_distinct(Funcs.tokens(col("text"))),
      t => Funcs.md5Long(t, 8))
    // order included: both sides keep first-occurrence order
    val mismatch = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(call_function("t_token_md5s", col("text")).as("native"),
        composed.as("composed"))
      .filter(col("native") =!= col("composed")).count()
    assert(mismatch == 0)
    // edges: empty, all-spaces, repeats, unicode
    val edge = Seq("", "   ", "a b a b", "好的 wörld 好的")
      .toDF("text")
      .select(call_function("t_token_md5s", col("text")).as("n"),
        composed.as("c"))
      .collect()
    edge.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("VecDot equals the composable Funcs.dotProduct bit-for-bit") {
    graft.functions.VecDot.register(spark)
    val e = Tables.embeddings(spark, "/root/testdata/sf0.001")
    val pairs = e.select(col("vec_id"), col("embedding").as("a"))
      .crossJoin(e.limit(3).select(col("embedding").as("b")))
    val mismatch = pairs
      .select(call_function("vec_dot", col("a"), col("b")).as("native"),
        Funcs.dotProduct(col("a"), col("b")).as("composed"))
      // bit-for-bit: no tolerance — identical fold order must give
      // the identical double
      .filter(col("native") =!= col("composed")).count()
    assert(mismatch == 0)
    // length mismatch → null, like the composable zip_with form (never
    // an out-of-bounds read)
    val edge = Seq((Seq(1.0f, 2.0f), Seq(1.0f, 2.0f, 3.0f)))
      .toDF("a", "b")
      .select(call_function("vec_dot", col("a"), col("b")).as("n"),
        Funcs.dotProduct(col("a"), col("b")).as("c"))
      .collect()(0)
    assert(edge.isNullAt(0) && edge.isNullAt(1))
  }

  test("connectedComponents fails loudly when the round cap is hit") {
    // a 3-chain needs at least one round; cap of 0 must throw, not
    // return identity labels that silently under-deduplicate
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      graft.dedup.Dedup.connectedComponents(pairs, maxRounds = 0).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // and one round of propagate+jump resolves the 3-chain
    val ok = graft.dedup.Dedup.connectedComponents(pairs, maxRounds = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ok == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("connectedComponents reliable-checkpoint path matches local") {
    // the cluster story: Reliable(dir) must produce the same labels as
    // the local-checkpoint default, and must actually write checkpoint
    // data under the given dir (proof the strategy was exercised)
    import graft.dedup.Dedup.CheckpointStrategy
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (12L, 11L))
      .toDF("doc_a", "doc_b")
    val local = graft.dedup.Dedup.connectedComponents(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val dir = TestFiles.tempDir("graft_cc_ckpt")
      .toString
    val reliable = graft.dedup.Dedup.connectedComponents(pairs,
        checkpoint = CheckpointStrategy.Reliable(dir))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(reliable == local)
    assert(local == Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      val wrote = walk.filter(java.nio.file.Files.isRegularFile(_)).count()
      assert(wrote > 0, s"no checkpoint files written under $dir")
    } finally walk.close()
    // clean the temp checkpoint tree so repeated suite runs don't pile
    // up checkpoint files on disk
    val rm = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try {
      rm.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
        .forEach(p => java.nio.file.Files.deleteIfExists(p))
    } finally rm.close()
  }

  test("injected char_shingles rejects bad arity/width with a named error") {
    import org.apache.spark.sql.SparkSession
    val prev = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions).getOrCreate()
      val e = intercept[Exception] {
        s2.sql("SELECT char_shingles('abc')").collect()
      }
      assert(e.getMessage.contains("char_shingles"))
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("vec_dot rejects wrong arity and non-FLOAT arrays at analysis") {
    graft.functions.VecDot.register(spark)
    // wrong arity: named error at plan time, not IndexOutOfBounds
    val arity = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0F))").collect()
    }
    assert(arity.getMessage.contains("vec_dot"))
    // ARRAY<DOUBLE>: ArrayData.getFloat would read the wrong 4 bytes
    // per element and return garbage — must fail analysis instead
    val typed = intercept[Exception] {
      spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(1.0D, 2.0D))")
        .collect()
    }
    assert(typed.getMessage.toLowerCase.contains("type"))
    // and the valid FLOAT form still runs
    val ok = spark.sql(
      "SELECT vec_dot(array(1.0F, 2.0F), array(3.0F, 4.0F)) AS d")
      .collect()(0).getDouble(0)
    assert(ok == 11.0)
  }

  test("native string expressions reject non-string input at analysis") {
    RollingFingerprint.register(spark)
    graft.functions.DistinctShingleCount.register(spark)
    for (q <- Seq("SELECT rolling_fingerprint(array(1))",
        "SELECT distinct_shingles(array(1), 3)")) {
      val e = intercept[Exception] { spark.sql(q).collect() }
      assert(e.getMessage.toLowerCase.contains("type"), q)
    }
  }

  test("MinHashSigs returns declared-nullable null on empty input") {
    import graft.functions.MinHashSigs
    import org.apache.spark.sql.catalyst.expressions.Literal
    val sigs = MinHashSigs(Literal.create(Seq.empty[Long]), Seq((3L, 5L)),
      2147483647L)
    assert(sigs.nullable) // empty array → null even for non-null child
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "t_minhash_empty",
      exprs => MinHashSigs(exprs.head, Seq((3L, 5L)), 2147483647L),
      "scala_udf")
    // through a real (codegen-eligible) plan over a non-nullable child
    val rows = spark.range(2)
      .selectExpr("t_minhash_empty(array_remove(array(id), id)) AS s")
      .collect()
    rows.foreach(r => assert(r.isNullAt(0)))
  }

  test("q17 bin assignment uses floor division for negative epochs") {
    // pre-1970 timestamp: -1µs is in bin -1, not bin 0 — `div`
    // truncation would put the click and its error in different bins
    val binUs = 300000000L
    val got = Seq(-1L, -binUs, -binUs - 1, 0L, binUs - 1, binUs)
      .toDF("us")
      .select(expr(s"(us - pmod(us, ${binUs}L)) div ${binUs}L").as("bin"))
      .as[Long].collect().toSeq
    assert(got == Seq(-1L, -1L, -2L, 0L, 0L, 1L))
  }

  test("saltedJoin equals the plain join") {
    val d = "/root/testdata/sf0.001"
    val li = Tables.lineitem(spark, d).select("l_partkey", "l_quantity")
    val p = Tables.part(spark, d).select(col("p_partkey").as("l_partkey"),
      col("p_brand"))
    val plain = li.join(p, Seq("l_partkey"))
    val salted = graft.operators.SkewTools.saltedJoin(li, p, "l_partkey", 8)
    assert(salted.count() == plain.count())
    val a = plain.groupBy("l_partkey", "p_brand")
      .agg(sum("l_quantity").as("q")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val b = salted.groupBy("l_partkey", "p_brand")
      .agg(sum("l_quantity").as("q")).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(a == b)
  }

  test("GraftExtensions injects the native functions via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    // Build a second session over the shared SparkContext with the
    // extensions injected — same GraftExtensions class the cluster
    // path loads from the spark.sql.extensions static conf (a static
    // conf can't change on an existing context, so the test uses the
    // builder.withExtensions form of the same hook; no register()
    // call anywhere). getOrCreate must not short-circuit to the test
    // session, so active/default are cleared and restored.
    val prev = TestSpark.spark
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .withExtensions(new graft.functions.GraftExtensions)
        .getOrCreate()
      assert(s2 ne prev)
      val fp = s2.sql("SELECT rolling_fingerprint('LoadLibrary') AS fp")
        .collect()(0).getLong(0)
      var h = 0L
      "LoadLibrary".foreach(ch => h = (h * 31 + ch.toInt) % 2147483647L)
      assert(fp == h)
      val sh = s2.sql("SELECT char_shingles('abcdef', 3) AS s")
        .collect().map(_.getString(0)).toSeq
      assert(sh == Seq("abc", "bcd", "cde", "def"))
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }
}
