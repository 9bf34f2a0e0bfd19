package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark body over (session, sfDir),
  * and the DuckDB SQL twin the oracle gate runs over the same tables. Each
  * query file lists its registrations in one `registry`, every twin right
  * after its body. */
final case class Q(name: String, build: (SparkSession, String) => DataFrame,
    oracle: String)

object Q {

  /** Registrations by name. A duplicate name or an empty oracle throws,
    * naming the key, instead of one twin silently shadowing another. */
  def index(qs: Seq[Q]): Map[String, Q] = {
    val dup = qs.groupBy(_.name).collect { case (n, g) if g.size > 1 => n }
    require(dup.isEmpty, s"query registered twice: ${dup.toSeq.sorted.mkString(", ")}")
    for (q <- qs)
      require(q.oracle != null && q.oracle.trim.nonEmpty, s"query ${q.name} has an empty oracle")
    qs.map(q => q.name -> q).toMap
  }
}
