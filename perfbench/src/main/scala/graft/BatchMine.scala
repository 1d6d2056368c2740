package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The one-pass batch mine that the maintained candidates of
  * [[graft.streaming.DocumentPipeline]] must equal: shingle the stored
  * corpus and score every pair, as one batch job. Its helpers are
  * package-private to `graft`, hence this package.
  */
object BatchMine {
  def candidates(corpus: DataFrame): DataFrame =
    graft.queries.DedupQueries.candidatesFromShingles(
      corpus.select(col("doc_id"),
        graft.queries.DedupQueries.shingleHashes(
          filter(split(col("text"), " "), tk => length(tk) > 0)).as("s")),
      floor = graft.queries.DedupQueries.CandidateFloor)
}
