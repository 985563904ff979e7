package graft

import graft.functions.TextFns
import graft.operators.TextAnalysis
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class TextSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = TestSpark.Sf0001

  private lazy val docsDir: String = {
    val dir = Files.createTempDirectory("graft-text").toString
    val docs = spark.createDataFrame(
      List(
        Row(0L, "the cat sat on the mat", "en", "s", 22L),
        Row(1L, "der hund und die katze und der vogel", "de", "s", 37L),
        Row(2L, "le chat et le chien et un oiseau", "fr", "s", 32L),
        Row(3L, "  padded   text  ", "en", "s", 17L)
      ).asJava, Tables.documentsSchema)
    docs.write.parquet(s"$dir/documents.parquet")
    dir
  }

  test("token counts handle padding and runs of whitespace") {
    val m = TextAnalysis.tokenCounts(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m(0L) == 6)
    assert(m(3L) == 2, "trim + \\s+ split must not create empty tokens")
  }

  test("quality score is bounded and rewards lexical diversity") {
    val rows = TextAnalysis.qualityScore(spark, docsDir).collect()
    rows.foreach { r =>
      val score = r.getDouble(5)
      assert(score >= 0.0 && score <= 1.0, s"doc ${r.getLong(0)} score $score")
    }
    val uniq = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(uniq(3L) == 1.0)
    assert(uniq(0L) < 1.0, "'the' repeats")
  }

  test("language ID picks the language with most marker hits") {
    val m = TextAnalysis.langId(spark, docsDir).collect()
      .map(r => r.getLong(0) -> r.getAs[String]("predicted_lang")).toMap
    assert(m(0L) == "en")
    assert(m(1L) == "de")
    assert(m(2L) == "fr")
    assert(m(3L) == "und", "no marker hits → undetermined")
  }

  test("winnow fingerprint: identical text → identical sketch; count = len-7") {
    val rows = TextAnalysis.winnowFingerprint(spark, docsDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(rows(0L)._2 == "the cat sat on the mat".length - 7)
  }

  test("text_tfidf_top df-aggregate form equals the round-17 window form") {
    import org.apache.spark.sql.expressions.Window
    val now = operators.TextAnalysis.tfidfTop(spark, dir)
    assert(now.columns.toSeq ===
      Seq("doc_id", "term", "tf", "df", "salience", "rk"))
    // round-17 body, verbatim: df via COUNT(*) OVER (PARTITION BY term)
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(TextFns.tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val old = tf
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("salience", col("tf").cast("double") / col("df"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("salience").desc, col("term"))))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("salience"), col("rk"))
    assert(now.exceptAll(old).isEmpty && old.exceptAll(now).isEmpty)
    assert(now.count() > 0)
  }
}
