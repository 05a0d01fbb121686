package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier

/** The SQL surface of the native functions, on both paths that bind them:
  * the session extension every `GraftSession.builder` session carries, and
  * late registration (`GraftSession.register`) on a session built without
  * it. Both paths share one builder list. */
class GraftSessionSpec extends SparkSpec {

  /** A session on the suite's context whose registry has had the graft
    * functions dropped — what a shell session built without the extension
    * sees — so only `register` can make them resolve again. */
  private def bareSession(): SparkSession = {
    val s = spark.newSession()
    GraftFunctions.builders.foreach { case (name, _, _) =>
      s.sessionState.functionRegistry.dropFunction(FunctionIdentifier(name))
    }
    val e = intercept[Throwable](s.sql("SELECT rolling_hash('abc')").collect())
    assert(e.getMessage.contains("rolling_hash"))
    s
  }

  test("native functions resolve through the session extension alone") {
    val s = spark.newSession()
    val r = s.sql(
      """SELECT rolling_hash('abc') AS rh,
        |       bloom_might_contain(
        |         (SELECT bloom_agg(id, 100L) FROM range(10)), 3L) AS hit
        |""".stripMargin).head()
    assert(r.getLong(0) ==
      graft.functions.RollingHash.hashBytes("abc".getBytes("UTF-8")))
    assert(r.getBoolean(1), "a bloom filter has no false negatives")
  }

  test("native functions are callable from SQL after registration") {
    val spark = bareSession()
    GraftSession.register(spark)
    val r = spark.sql(
      """SELECT rolling_hash('abc') AS rh,
        |       dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS dp,
        |       sorted_intersect_count(array(1L, 2L, 5L), array(2L, 5L, 9L)) AS ic,
        |       size(ngram_hashes('abcdef', 3)) AS ng,
        |       size(minhash_array(array(7L, 9L), 32)) AS mh,
        |       size(sign_band_buckets(array(1.0D, -2.0D, 0.5D, 3.0D), 32, 8, 4)) AS sb,
        |       size(token_ngram_hashes(array(1L, 2L, 3L, 4L, 5L), 3)) AS tg,
        |       canonical_url('HTTP://WWW.Shop.Example.com:443/a/?utm_x=1&ref=2#f') AS cu
        |""".stripMargin).head()
    assert(r.getLong(0) ==
      graft.functions.RollingHash.hashBytes("abc".getBytes("UTF-8")))
    assert(r.getDouble(1) == 11.0)
    assert(r.getInt(2) == 2)
    assert(r.getInt(3) == 4) // abc, bcd, cde, def
    assert(r.getInt(4) == 32)
    assert(r.getInt(5) == 32)
    assert(r.getInt(6) == 3) // 5 tokens, 3-gram windows: positions 1..3
    assert(r.getString(7) == "https://shop.example.com/a/?ref=2",
      "scheme/case/www/port/utm/fragment all normalized, '&' repaired to '?'")
  }

  test("SQL surface rejects wrong arity and non-literal literals clearly") {
    val spark = bareSession()
    GraftSession.register(spark)
    def failsWith(sql: String, fragment: String): Unit = {
      val e = intercept[Throwable](spark.sql(sql).collect())
      val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      assert(msgs.contains(fragment),
        s"expected error mentioning '$fragment', got: $msgs")
    }
    // extra args used to be silently dropped (simhash64('a','b') ran on 'a')
    failsWith("SELECT simhash64(array(1L), 'extra')", "1 argument")
    failsWith("SELECT token_stats(array('a'), array(array('x')), 'extra')",
      "1 to 2 argument")
    // non-foldable where a literal is required used to die inside eval()
    // with an unresolved-expression stack trace
    failsWith("SELECT minhash_array(array(id), cast(id AS INT)) FROM range(3)",
      "must be a literal")
    failsWith("SELECT token_stats(array('a'), id) FROM range(3)",
      "must be a literal")
  }
}
