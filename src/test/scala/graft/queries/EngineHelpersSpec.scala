package graft.queries

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

/** The FulltextQueries result helpers map internal docIds to doc_id through
  * the searcher's OWN index. Checked on `DocsIndex.Sorted`, whose docIds are
  * ranked by `lang` and so differ from the plain variant's doc_id order: a
  * helper that joined the plain map would return the wrong documents. */
class EngineHelpersSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** Six docs whose `lang` order is not their doc_id order. */
  private lazy val sfDir: String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-helpers-").toString
    Seq(
      (0L, "vector vector vector table", "zh"),
      (1L, "table merge", "en"),
      (2L, "vector table", "de"),
      (3L, "merge", "fr"),
      (4L, "vector vector merge", "de"),
      (5L, "table", "en"))
      .map { case (id, text, lang) => (id, text, lang, s"src$id", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")
    dir
  }

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.select("doc_id").collect().map(_.getLong(0)).toSeq

  test("hitsDoubleDF maps docIds through the searcher's own index") {
    val (sorted, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Sorted)
    val (plain, _) = DocsIndex.get(spark, sfDir)
    val q = searcher.parse("vector OR table")
    def byHand(map: org.apache.spark.sql.DataFrame) =
      searcher.searchDoubleDS(q, 3).toDF().join(map, "docId")
        .orderBy(desc("score"), asc("doc_id")).limit(3)
        .select(col("doc_id"), col("score"))
    val got = FulltextQueries.hitsDoubleDF(searcher, q, 3).collect().toSeq
    assert(got.size == 3)
    assert(got == byHand(DocsIndex.docIdMap(sorted)).collect().toSeq)
    assert(ids(FulltextQueries.hitsDoubleDF(searcher, "vector OR table", 3)) == got.map(_.getLong(0)))
    assert(ids(byHand(DocsIndex.docIdMap(plain))) != got.map(_.getLong(0)))
  }

  test("matchDF maps docIds through the searcher's own index") {
    val (sorted, searcher) = DocsIndex.get(spark, sfDir, DocsIndex.Sorted)
    val (plain, _) = DocsIndex.get(spark, sfDir)
    def byHand(map: org.apache.spark.sql.DataFrame) =
      searcher.matchesDS(searcher.parse("vector")).toDF("docId").join(map, "docId")
        .select(col("doc_id")).orderBy("doc_id")
    val got = ids(FulltextQueries.matchDF(searcher, "vector"))
    assert(got == Seq(0L, 2L, 4L))
    assert(got == ids(byHand(DocsIndex.docIdMap(sorted))))
    assert(ids(byHand(DocsIndex.docIdMap(plain))) != got)
  }
}
