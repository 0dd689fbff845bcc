package graft

import graft.operators.{AsOfJoin, Dedup, Embeddings, Similarity, TextStats}
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** User-facing syntax: `import graft.syntax._` and the engine's
  * operators hang off any DataFrame — the switch-over surface for a
  * user of the reference library moving to this engine.
  *
  * {{{
  *   import graft.syntax._
  *   docs.dedupExact("doc_id", "text")
  *   docs.nearDupPairs("doc_id", "text", minJaccard = 0.9)
  *   purchases.asOfJoin(views, "user_id", "u", "ts", "vts", Seq("view_id"))
  *   corpus.cosineTopK(queries, "vec_id", "embedding", k = 10)
  * }}}
  */
object syntax {

  implicit final class GraftOps(private val df: DataFrame) extends AnyVal {

    // ---- joins ----
    def asOfJoin(right: DataFrame, leftKey: String, rightKey: String,
                 leftTs: String, rightTs: String,
                 rightPayload: Seq[String]): DataFrame =
      AsOfJoin.leftAsOf(df, right, leftKey, rightKey, leftTs, rightTs, rightPayload)

    // ---- dedup ----
    def dedupExact(idCol: String, textCol: String): DataFrame =
      Dedup.exact(df, idCol, textCol)

    def nearDupPairs(idCol: String, textCol: String, n: Int = 3,
                     minJaccard: Double = 0.8,
                     maxDocFreq: Option[Int] = Some(10000)): DataFrame =
      Dedup.jaccardPairs(df, idCol, textCol, n, minJaccard, maxDocFreq)

    // ---- similarity ----
    def cosineTopK(queries: DataFrame, idCol: String, vecCol: String,
                   k: Int, dim: Int = 64): DataFrame =
      Similarity.bruteForceTopK(df, queries, idCol, vecCol, k, dim)

    // ---- text analysis ----
    def withLangId(textCol: String): DataFrame =
      df.withColumn("lang_pred", TextFunctions.langId(col(textCol)))

    def withTokenCount(textCol: String): DataFrame =
      df.withColumn("n_tokens", TextFunctions.tokenCount(col(textCol)))

    // ---- corpus statistics ----
    def repetitionStats(idCol: String, textCol: String): DataFrame =
      TextStats.repetitionStats(df, idCol, textCol)

    def winnowingFingerprints(idCol: String, textCol: String,
                              n: Int = 3, w: Int = 4): DataFrame =
      TextStats.winnowingFingerprints(df, idCol, textCol, n, w)

    def quantizeInt8(idCol: String, vecCol: String): DataFrame =
      Embeddings.quantizeInt8(df, idCol, vecCol)
  }
}
