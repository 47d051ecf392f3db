package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, the Spark plan over an input dir, and
  * the DuckDB SQL that states the same answer over the same parquet.
  * The plan and its oracle are declared together, so neither can exist
  * without the other.
  */
final case class QuerySpec(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

object QuerySpec {

  /** Every driver query, one family file at a time. Lazy: the family
    * objects call this companion's `apply` while they initialize.
    */
  lazy val all: Seq[QuerySpec] = unique(
    OcrQueries.specs ++ DedupQueries.specs ++ AnnQueries.specs ++
      TextAnalyticsQueries.specs ++ TrainingQueries.specs ++ StreamingQueries.specs ++
      EventQueries.specs ++ WebQueries.specs ++ JoinQueries.specs ++ MediaQueries.specs)

  /** `specs` as given, or an error naming every name declared twice: a
    * name-keyed view over specs with a duplicate would keep one of them
    * silently.
    */
  def unique(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dups.isEmpty, s"query names declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    specs
  }
}
