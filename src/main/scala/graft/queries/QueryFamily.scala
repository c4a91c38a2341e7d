package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the function that builds it, and the DuckDB oracle
  * SQL its result must equal. */
final case class Paired(build: QueryFamily.QueryFn, sql: String)

/** A family of declared queries, each entry holding its builder and its
  * oracle SQL side by side. `SparkEntry.queries` / `oracleSql` merge the
  * maps of every family in `SparkEntry.families`. */
abstract class QueryFamily {
  import QueryFamily.QueryFn

  protected def paired: Seq[(String, Paired)]

  // the maps below are built with toMap, which would keep only the last
  // of two entries with one name
  private lazy val checked: Seq[(String, Paired)] = {
    require(paired.map(_._1).distinct.size == paired.size,
      s"a query name is defined twice in ${getClass.getSimpleName}")
    paired
  }

  def queries: Map[String, QueryFn] =
    checked.map { case (n, p) => n -> p.build }.toMap

  def oracleSql: Map[String, String] =
    checked.map { case (n, p) => n -> p.sql }.toMap
}

object QueryFamily {
  type QueryFn = (SparkSession, String) => DataFrame

  /** Scoped SQL-conf override: set, build (DataFrame construction analyzes
    * eagerly, so analyzer-time confs are consumed inside the scope),
    * restore the prior value — no leak into later queries on the session. */
  def withSQLConf[A](s: SparkSession, key: String, value: String)(body: => A): A = {
    val prev = s.conf.getOption(key)
    s.conf.set(key, value)
    try body
    finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None => s.conf.unset(key)
    }
  }
}
