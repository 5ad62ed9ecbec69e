package graft

import org.json4s._
import org.json4s.jackson.JsonMethods
import org.scalatest.funsuite.AnyFunSuite

/** The bench's stdout contract line must fit the driver's 2000-char
  * stdout tail (with the sbt epilogue after it) for ANY query set. */
class ContractLineSpec extends AnyFunSuite {
  private val sf = SparkTestSession.sf

  private def names(n: Int, len: Int): Seq[String] =
    (0 until n).map(i => f"q_$i%03d_" + "x" * (len - 6))

  private def check(line: String, total: Int): JValue = {
    assert(line.length <= Bench.LineCap, s"${line.length} chars")
    assert(Bench.LineCap + 100 <= 2000)
    val j = JsonMethods.parse(line)
    val JObject(shown) = j \ "queries": @unchecked
    val JInt(omitted) = j \ "queries_omitted": @unchecked
    assert(shown.size + omitted.toInt == total)
    j
  }

  test("all 233 queries sticky with long names still fit the cap") {
    val qs = names(233, 60)
    val reported = qs.zipWithIndex.map { case (q, i) => q -> (i + 1) * 0.37 }
    val line = Bench.contractLine(321.5, 300.0, reported, Nil, 0, qs.toSet, sf)
    val j = check(line, 233)
    // the slowest sticky query is printed
    assert((j \ "queries" \ qs.last) != JNothing)
  }

  test("a full error list with long names still fits the cap") {
    val qs = names(233, 60)
    val reported = qs.map(_ -> -1.0)
    val line = Bench.contractLine(-1.0, -1.0, reported, qs, 3, qs.toSet, sf)
    val j = check(line, 233)
    val JArray(errs) = j \ "errors": @unchecked
    val JInt(errOmitted) = j \ "errors_omitted": @unchecked
    assert(errs.nonEmpty && errs.size + errOmitted.toInt == 233)
  }

  test("sticky queries are printed before faster non-sticky ones") {
    val qs = names(233, 20)
    val reported = qs.zipWithIndex.map { case (q, i) => q -> (i + 1) * 0.01 }
    val sticky = qs.take(5).toSet // the five fastest
    val j = check(Bench.contractLine(10.0, 9.0, reported, Nil, 0, sticky, sf), 233)
    sticky.foreach(q => assert((j \ "queries" \ q) != JNothing, q))
  }

  test("a small suite prints every query and omits nothing") {
    val reported = Seq("q_a" -> 1.0, "q_b" -> 2.5)
    val j = check(Bench.contractLine(3.5, 3.5, reported, Nil, 0, Set.empty, sf), 2)
    assert((j \ "queries_omitted") == JInt(0))
    assert((j \ "errors_omitted") == JInt(0))
  }
}
