package graft

import org.apache.spark.sql.SparkSession

/** A session built with spark.sql.extensions=graft.GraftExtensions gets
  * the custom functions in pure SQL. Builds a second session over the
  * shared SparkContext, restores the suite session afterwards. */
class ExtensionsSpec extends SparkSpec {

  /** Runs `body` in a new session built with the extensions, then
    * restores the suite session. */
  private def withExtensions(body: SparkSession => Unit): Unit = {
    val base = spark // force TestSpark init first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    // spark.sql.extensions is a STATIC conf read from the SparkContext at
    // launch; over a shared test context the programmatic hook applies
    // the same class
    val ext = SparkSession.builder()
      .master("local[4]")
      .withExtensions(new GraftExtensions())
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try body(ext)
    finally {
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
      SparkSession.setDefaultSession(base)
      SparkSession.setActiveSession(base)
    }
  }

  test("extension-injected functions resolve from SQL") {
    withExtensions { ext =>
      import ext.implicits._
      Seq((1L, Array(1.0f, 0.0f), Array(1.0f, 0.0f)),
        (2L, Array(1.0f, 0.0f), Array(0.0f, 1.0f)))
        .toDF("id", "a", "b").createOrReplaceTempView("ext_vecs")
      val cos = ext.sql(
        "SELECT id, cosine_similarity(a, b) c, squared_distance(a, b) d FROM ext_vecs")
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
      assert(math.abs(cos(1L)._1 - 1.0) < 1e-12 && cos(1L)._2 == 0.0)
      assert(cos(2L)._1 == 0.0 && cos(2L)._2 == 2.0)
      val sig = ext.sql(
        "SELECT hyperplane_signature(a, 8, 2) s FROM ext_vecs WHERE id = 1")
        .collect()(0).getLong(0)
      assert(sig >= 0L && sig < 256L)
      val kmv = ext.sql(
        "SELECT approx_distinct_kmv(id, 16) FROM ext_vecs")
        .collect()(0).getLong(0)
      assert(kmv == 2L)
      // round-7 text/sketch functions
      val grams = ext.sql(
        "SELECT word_ngrams(split('a b c', ' '), 2, true) g")
        .collect()(0).getSeq[String](0)
      assert(grams == Seq("a b", "b c"))
      val fps = ext.sql(
        "SELECT size(winnow_fingerprints('abcdefghij', 4, 3)) n," +
          " size(char_gram_hashes('abcdefghij', 4)) m")
        .collect()(0)
      assert(fps.getInt(0) >= 1 && fps.getInt(1) == 7)
      val mg = ext.sql(
        "SELECT frequent_items_sketch(CAST(id AS STRING), 4) m FROM ext_vecs")
        .collect()(0).getMap[String, Long](0)
      assert(mg == Map("1" -> 1L, "2" -> 1L))
      val cms = ext.sql(
        "SELECT cms_estimate(cms_sketch(CAST(id AS STRING), 4, 64)," +
          " '1', 4, 64) e FROM ext_vecs")
        .collect()(0).getLong(0)
      assert(cms == 1L)
      // round-8 functions
      val m64 = ext.sql("SELECT md5_prefix64('abc') h").collect()(0).getLong(0)
      assert(m64 != 0L)
      val nfc = ext.sql(
        "SELECT unicode_normalize(decode(unhex('63616665CC81'), 'utf-8'), 'NFC') n")
        .collect()(0).getString(0)
      assert(nfc == "caf\u00e9")
    }
  }

  test("levenshtein_within from SQL matches the DataFrame form") {
    withExtensions { ext =>
      import ext.implicits._
      Seq(("kitten", "sitting"), ("flaw", "lawn"), ("same", "same"),
        ("", "abc"), ("abcdef", "ghijkl"), ("caf\u00e9", "cafe"),
        (null, "x"))
        .toDF("l", "r").createOrReplaceTempView("ext_pairs")
      val viaSql = ext.sql(
        "SELECT l, r, levenshtein_within(l, r, 3) d FROM ext_pairs")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.get(2)).toMap
      val viaColumn = ext.table("ext_pairs")
        .select($"l", $"r", graft.expressions.GraftExpressions
          .levenshtein_within($"l", $"r", 3).as("d"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.get(2)).toMap
      assert(viaSql == viaColumn)
      assert(viaSql(("kitten", "sitting")) == 3)
      assert(viaSql(("abcdef", "ghijkl")) == -1)
      assert(viaSql((null, "x")) == null)
      val bad = intercept[Exception] {
        ext.sql("SELECT levenshtein_within(l, r, length(l)) FROM ext_pairs")
          .collect()
      }
      assert(bad.getMessage.contains("integer literal"))
    }
  }
}
