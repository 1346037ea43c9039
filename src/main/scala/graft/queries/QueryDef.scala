package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.BoundedWindow

/** One oracle-checked query: its Spark build over a table directory and
  * the DuckDB SQL whose result it must match, with IDENTICAL column
  * names (SURVEY.md §2 for the inventory, §4 for the cross-engine
  * determinism rules). */
final case class QueryDef(
    name: String,
    build: (SparkSession, String) => DataFrame,
    oracle: String)

object QueryDef {

  /** A query whose Spark side runs the oracle's own ANSI text over the
    * directory's tables registered as views. The text may spell a
    * bounded window inline as `PARTITION BY 'bounded: …'` (q_chi2),
    * which never builds a WindowSpec, so the folding rule is excluded
    * here; SQL without such a key plans the same either way. */
  def sql(name: String, text: String): QueryDef =
    QueryDef(name, (s, dir) => {
      Tables.registerAll(s, dir)
      BoundedWindow.ensureRuleExcluded()
      s.sql(text)
    }, text)

  /** The registry: every query by name. A repeated name fails here,
    * at construction, instead of one definition silently replacing
    * the other. */
  def index(defs: Seq[QueryDef]): Map[String, QueryDef] = {
    val repeated = defs.groupBy(_.name).collect {
      case (n, ds) if ds.size > 1 => n
    }
    require(repeated.isEmpty,
      s"query names defined more than once: ${repeated.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }
}
