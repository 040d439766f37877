package graft.queries

import org.scalatest.funsuite.AnyFunSuite

class QueryRegistrySpec extends AnyFunSuite {

  private def q(name: String): Query =
    Query(name, (s, _) => s.emptyDataFrame, s"SELECT '$name'")

  test("a name declared twice fails the registry instead of replacing the first") {
    val e = intercept[IllegalArgumentException] {
      Query.registry(Seq(q("a"), q("b")), Seq(q("c"), q("a")))
    }
    assert(e.getMessage.contains("duplicate query names: a"), e.getMessage)
    assert(Query.registry(Seq(q("a"), q("b")), Seq(q("c"))).keySet == Set("a", "b", "c"))
  }
}
