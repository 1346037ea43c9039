package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryDef

/** SURVEY.md §2 ↔ `SparkEntry.queries` bijection guard, and SURVEY
  * §2.5 ↔ `GraftFunctions.all` on SQL function names.
  *
  * The coverage bar is defined over SURVEY §2; round 8 shipped three
  * queries that existed only in code and were invisible to it. This
  * spec makes that drift structurally impossible in both directions:
  * every `q_*` key in `SparkEntry.queries` must be referenced by a
  * SURVEY §2 row, and every backticked `q_*` query key in §2 must
  * exist in `queries`. Runs without a SparkSession — pure parsing.
  */
class SurveySpec extends AnyFunSuite {

  private lazy val survey: String = {
    val src = scala.io.Source.fromFile("SURVEY.md", "UTF-8")
    try src.mkString finally src.close()
  }

  private lazy val surveyKeys: Set[String] = {
    // §2 spans from its header to §3; query keys appear backticked in
    // the "Query key" column (sometimes alongside an operator name).
    val s2 = survey.substring(survey.indexOf("## §2"), survey.indexOf("## §3"))
    "`(q_[a-z0-9_]+)`".r.findAllMatchIn(s2).map(_.group(1)).toSet
  }

  private lazy val queryKeys: Set[String] = SparkEntry.queries.keySet

  test("every SparkEntry query key has a SURVEY §2 row") {
    // q1_agg is the one non-q_-prefixed key; it is referenced in §2.2
    // by name — assert it separately, regex covers the rest.
    val missing = queryKeys.filter(_.startsWith("q_")) -- surveyKeys
    assert(missing.isEmpty,
      s"queries absent from SURVEY §2 (add rows): ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("every SURVEY §2 query key exists in SparkEntry.queries") {
    val stale = surveyKeys -- queryKeys
    assert(stale.isEmpty,
      s"SURVEY §2 references unknown query keys (stale rows): ${stale.toSeq.sorted.mkString(", ")}")
  }

  test("SURVEY §2.5 names exactly the SQL functions GraftFunctions registers") {
    // §2.5 spans from its header to §2.6; each SQL name appears
    // backticked, as `graft_x` or `graft_x(args)`
    val s25 = survey.substring(survey.indexOf("### §2.5"), survey.indexOf("### §2.6"))
    val named = "`(graft_[a-z0-9_]+)".r.findAllMatchIn(s25).map(_.group(1)).toSet
    val registered = graft.functions.GraftFunctions.all.map(_._1.funcName).toSet
    val stale = named -- registered
    assert(stale.isEmpty,
      s"SURVEY §2.5 names unregistered SQL functions: ${stale.toSeq.sorted.mkString(", ")}")
    val missing = registered -- named
    assert(missing.isEmpty,
      s"registered SQL functions absent from SURVEY §2.5: ${missing.toSeq.sorted.mkString(", ")}")
  }

  test("no duplicate query keys in the SparkEntry source") {
    // A repeated name must fail when the registry is built, not leave
    // one definition silently replacing the other.
    val d = QueryDef("q_dup", (s, _) => s.emptyDataFrame, "SELECT 1")
    val e = intercept[IllegalArgumentException](
      QueryDef.index(Seq(d, d.copy(oracle = "SELECT 2"))))
    assert(e.getMessage.contains("q_dup"))
    // And at the source level: every query name is defined exactly once
    // across the family objects under graft.queries.
    val dir = new java.io.File("src/main/scala/graft/queries")
    val names = dir.listFiles().toSeq.filter(_.getName.endsWith(".scala"))
      .flatMap { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        val text = try src.mkString finally src.close()
        "QueryDef(?:\\.sql)?\\(\"(q_[a-z0-9_]+|q1_agg)\"".r
          .findAllMatchIn(text).map(_.group(1)).toSeq
      }
    val dups = names.groupBy(identity).collect {
      case (n, ns) if ns.size > 1 => n
    }.toSeq.sorted
    assert(dups.isEmpty,
      s"query names defined more than once under graft.queries: ${dups.mkString(", ")}")
    assert(names.toSet === queryKeys)
    assert(queryKeys.size === 311)
  }

  test("every query key has an oracle or a documented rows-only check") {
    // Every query carries its oracle in its QueryDef; guard that none
    // ships with a blank one and that the two views agree.
    val unoracled = queryKeys -- SparkEntry.oracleSql.keySet
    assert(unoracled.isEmpty,
      s"queries without oracle SQL: ${unoracled.toSeq.sorted.mkString(", ")}")
    val blank = SparkEntry.oracleSql.collect {
      case (n, sql) if sql.trim.isEmpty => n
    }.toSeq.sorted
    assert(blank.isEmpty, s"queries with blank oracle SQL: ${blank.mkString(", ")}")
    assert(queryKeys === SparkEntry.oracleSql.keySet)
  }
}
