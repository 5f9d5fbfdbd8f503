package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Text

/** Parity pin for the round-12 language-ID hot-loop expression
  * (functions.LangTrigramScores): the one-pass byte-window scorer must be
  * row-identical to the declarative formulation it replaced (character
  * trigram explode → 20-row profile join → per-(doc, lang) sum, with
  * absent-not-zero semantics) — on the fixture corpus AND on adversarial
  * non-ASCII / short inputs, where the byte-vs-char window argument in
  * the expression's scaladoc has to actually hold. */
class LidNativeSpec extends SparkSpec {

  private def native(docs: DataFrame): Seq[(Long, String, Long)] = {
    docs.select(col("doc_id"),
        explode(expr("lang_trigram_scores(text)")).as("ls"))
      .select(col("doc_id"), col("ls.lang"), col("ls.score"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
  }

  private def declarative(docs: DataFrame): Seq[(Long, String, Long)] = {
    import spark.implicits._
    val prof = broadcast(Text.langProfiles.toDF("lang_p", "tg", "w"))
    docs.select(col("doc_id"), explode(expr(
        """CASE WHEN length(text) >= 3 THEN
          |  transform(sequence(1, length(text) - 2), i -> substring(text, i, 3))
          |ELSE array() END""".stripMargin)).as("tg"))
      .join(prof, "tg")
      .groupBy(col("doc_id"), col("lang_p"))
      .agg(sum(col("w")).as("score"))
      .collect().toSeq
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sorted
  }

  test("expression equals the explode+join formulation on the corpus") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(col("doc_id"), col("text"))
    val got = native(docs)
    assert(got.nonEmpty, "fixture must produce at least one profile hit")
    assert(got === declarative(docs))
  }

  test("byte windows stay char-exact on non-ASCII and short inputs") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the café and the ing"), // multi-byte char mid-stream
      (2L, "schön der ich"),        // adjacent to profile hits
      (3L, "ab"),                        // shorter than one window
      (4L, ""),                          // empty
      (5L, "中文 zh xi "),       // CJK + ascii profile grams
      (6L, "zzz qqq vvv")                // no profile hits at all
    ).toDF("doc_id", "text")
    assert(native(docs) === declarative(docs))
  }
}
