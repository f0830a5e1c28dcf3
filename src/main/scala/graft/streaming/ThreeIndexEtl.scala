package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The reference's three-index ETL round (etl/main.py:357-385: the forever
  * loop runs movies_data / genres_data / persons_data back to back, each
  * with its own state key, STATE_KEY_MOVIES/GENRES/PERSONS at
  * main.py:62-67): one [[IncrementalDocPipeline]] per index, each with its
  * own `$workDir/<index>_store` and `$workDir/<index>_state`, so one
  * pipeline's failure or lag never corrupts another's watermark.
  * Subclasses supply only each index's (doc builder, change feed) pair.
  */
abstract class ThreeIndexEtl(workDir: String,
                             movieFeed: ThreeIndexEtl.Feed,
                             genreFeed: ThreeIndexEtl.Feed,
                             personFeed: ThreeIndexEtl.Feed) {

  private def pipeline(index: String, feed: ThreeIndexEtl.Feed) =
    new IncrementalDocPipeline(
      docBuilder = feed._1,
      changes = feed._2,
      storePath = s"$workDir/${index}_store",
      statePath = s"$workDir/${index}_state")

  val movies: IncrementalDocPipeline = pipeline("movies", movieFeed)
  val genres: IncrementalDocPipeline = pipeline("genres", genreFeed)
  val persons: IncrementalDocPipeline = pipeline("persons", personFeed)

  /** One round, reference order (movies, genres, persons). Returns each
    * pipeline's dirty-id count.
    */
  def tickAll(spark: SparkSession): Map[String, Long] = Map(
    "movies" -> movies.tick(spark),
    "genres" -> genres.tick(spark),
    "persons" -> persons.tick(spark))
}

object ThreeIndexEtl {

  /** One index's (dirty-ids DF ("id") → full docs, (id, modified) feed). */
  type Feed = ((SparkSession, DataFrame) => DataFrame, SparkSession => DataFrame)
}
