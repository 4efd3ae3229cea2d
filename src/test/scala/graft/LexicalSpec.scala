package graft

import graft.operators.Lexical
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LexicalSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("tfidf vectors match hand-computed sklearn formula") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = Lexical.tfidfVectors(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getDouble(2)).toMap
    val idfA = math.log(3.0 / 2.0) + 1  // ln((N+1)/(df+1))+1, N=2, df=1
    val idfB = 1.0                      // df=2 -> ln(3/3)+1
    val n1 = math.sqrt(math.pow(2 * idfA, 2) + idfB * idfB)
    assert(math.abs(got((1L, "a")) - 2 * idfA / n1) < 1e-12)
    assert(math.abs(got((1L, "b")) - idfB / n1) < 1e-12)
    val n2 = math.sqrt(idfB * idfB + idfA * idfA)
    assert(math.abs(got((2L, "c")) - idfA / n2) < 1e-12)
  }

  test("tfidf search scores only docs sharing query terms") {
    val docs = Seq((1L, "a a b"), (2L, "b c"), (3L, "d d")).toDF("doc_id", "text")
    val got = Lexical.tfidfSearch(spark, docs, "doc_id", "text", Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.keySet === Set(1L))
    assert(got(1L) > 0.9) // "a" dominates doc 1
  }

  test("bm25 floors negative idf at eps * avg_idf (rank_bm25 semantics)") {
    // term "a" appears in both docs -> idf_raw = ln(0.5/2.5) < 0
    val docs = Seq((1L, "a b"), (2L, "a c")).toDF("doc_id", "text")
    val got = Lexical.bm25Search(spark, docs, "doc_id", "text", Seq("a"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val idfRawA = math.log((2 - 2 + 0.5) / (2 + 0.5))
    val avgIdf = (idfRawA + math.log((2 - 1 + 0.5) / 1.5) * 2) / 3
    val flooredA = 0.25 * avgIdf
    // dl = avgdl = 2 -> denominator = tf + k1 = 2.5; tf=1 -> contrib = idf*2.5/2.5
    assert(math.abs(got(1L) - flooredA) < 1e-12)
    assert(math.abs(got(2L) - flooredA) < 1e-12)
  }

  test("cleanText keeps Vietnamese accents, drops punctuation (C1)") {
    val docs = Seq("Xin Chào! Việt-Nam, 123_ok?").toDF("text")
    val got = docs.select(Lexical.cleanText(col("text"))).head.getString(0)
    assert(got === "xin chào việtnam 123_ok")
  }

  test("lshThreshold matches the (1/b)^(1/r) curve") {
    assert(math.abs(graft.operators.Dedup.lshThreshold(8, 2) - math.pow(0.125, 0.5)) < 1e-12)
  }

  test("char_wb(3,5) matches sklearn's analyzer semantics") {
    // hand-traced from sklearn's _char_wb_ngrams on 'ab cde':
    //  ' ab ' (len 4): n=3 -> ' ab','ab '; n=4 -> ' ab ' (short-word stop)
    //  ' cde ' (len 5): n=3 -> ' cd','cde','de '; n=4 -> ' cde','cde ';
    //                   n=5 -> ' cde '
    val got = Seq("ab  cde").toDF("t")
      .select(Lexical.charWbNgrams(col("t"), 3, 5))
      .head.getSeq[String](0)
    assert(got.toList === List(
      " ab", "ab ", " ab ",
      " cd", "cde", "de ", " cde", "cde ", " cde "))
    val short = Seq("x").toDF("t")
      .select(Lexical.charWbNgrams(col("t"), 3, 5)).head.getSeq[String](0)
    assert(short.toList === List(" x ")) // whole padded word, once
  }

  test("bigrams slide over the token sequence") {
    val docs = Seq((1L, "a b c"), (2L, "x")).toDF("doc_id", "text")
    val got = Lexical.ngrams(docs, "doc_id", "text", 2)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSet === Set((1L, "a b"), (1L, "b c"))) // 1-token doc yields none
  }

  test("index artifacts are bit-identical across builds of differently partitioned input") {
    val docs = Tables(spark, TestSpark.sfDir, "documents").select(col("doc_id"), col("text"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    def build(parts: Int) = {
      val in = docs.repartition(parts, col("text"))
      val dir = java.nio.file.Files.createTempDirectory("graft_lexrepro").toString
      val uni = Lexical.writeIndex(spark, in, "doc_id", "text", s"$dir/uni")
      val ng = Lexical.writeIndexNgrams(spark, in, "doc_id", "text", 1, 3, s"$dir/ng")
      val thirds = in.filter(col("doc_id") % 3 === 0)
      val multi = Lexical.writeMultiIndex(spark,
        Seq(("a", in, "doc_id", "text"), ("b", thirds, "doc_id", "text")), s"$dir/multi")
      Seq(uni.stats, uni.vectors, ng.stats, ng.vectors, multi.stats, multi.vectors).map(rows)
    }
    val (one, seven) = (build(1), build(7))
    for ((name, i) <- Seq("unigram stats", "unigram vectors", "ngram stats", "ngram vectors",
        "multi stats", "multi vectors").zipWithIndex)
      assert(one(i) === seven(i), name)
  }
}
