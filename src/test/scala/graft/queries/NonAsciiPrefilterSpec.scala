package graft.queries

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The text prefilters in front of the td_ tokenizers must keep every doc
  * the tokenizer keeps. Tokens come from `lower(text)`, and Unicode
  * lowercasing folds some non-ASCII letters into token chars: U+212A
  * (KELVIN SIGN) lowercases to `k`, U+0130 (capital I with dot) to `i`
  * plus a combining dot. */
class NonAsciiPrefilterSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private val texts = Seq(
    0L -> "\u212A", // one token: k
    1L -> "\u212A \u0130", // two tokens: k, i
    2L -> "plain ascii words here", // four tokens
    3L -> "!!! ???") // no token

  private lazy val sfDir: String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-nonascii-").toString
    texts.map { case (id, t) => (id, t, "en", "src0", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def run(name: String) = TrainingDataQueries.queries(name)(spark, sfDir)

  private def docIds(name: String): Seq[Long] =
    run(name).select("doc_id").collect().map(_.getLong(0)).toSeq.sorted

  test("the fixture tokenizes as the comments say") {
    val n = spark.read.parquet(s"$sfDir/documents.parquet")
      .selectExpr("doc_id", "size(regexp_extract_all(lower(text), '[a-z0-9]+', 0)) AS n")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(n == Map(0L -> 1, 1L -> 2, 2L -> 4, 3L -> 0))
  }

  test("td_length_buckets keeps every doc with at least one token") {
    val rows = run("td_length_buckets").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(rows == Seq((1L, 1L, 1L), (2L, 1L, 2L), (4L, 1L, 4L)))
  }

  test("td_quality_gopher keeps every doc with at least two tokens") {
    assert(docIds("td_quality_gopher") == Seq(1L, 2L))
  }

  test("td_quality_gopher2 keeps every doc with at least one token") {
    assert(docIds("td_quality_gopher2") == Seq(0L, 1L, 2L))
  }
}
