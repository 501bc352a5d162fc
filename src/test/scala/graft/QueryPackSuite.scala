package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.QueryPack.withCte

class QueryPackSuite extends AnyFunSuite {

  test("withCte joins a leading WITH list of either case, else prepends") {
    val cte = "d AS (SELECT 1 AS x)"
    val list = "e AS (SELECT x FROM d)\nSELECT * FROM e"
    assert(withCte(cte, s"WITH $list") == s"WITH $cte,\n$list")
    assert(withCte(cte, s"with $list") == s"WITH $cte,\n$list")
    assert(withCte(cte, "SELECT x FROM d") == s"WITH $cte\nSELECT x FROM d")
  }
}
