package graft

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The harness contract, checked from the sources: every session comes
  * from `GraftSession.builder()`, the harness is at most four mains, and
  * `Plans` prints and writes the plans of named queries. */
class HarnessContractSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val sources: Seq[(Path, String)] = {
    val walk = Files.walk(Path.of("src/main/scala"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .map(p => p -> Files.readString(p)).toSeq
    finally walk.close()
  }

  test("SparkSession.builder() appears only in GraftSession.scala") {
    val builders = sources.collect {
      case (p, src) if src.contains("SparkSession.builder()") => p.getFileName.toString
    }
    assert(builders == Seq("GraftSession.scala"))
  }

  test("the harness has at most four mains") {
    val mains = sources.flatMap { case (p, src) =>
      "def main\\(".r.findAllIn(src).map(_ => p.getFileName.toString)
    }
    assert(mains.nonEmpty && mains.size <= 4, mains.mkString(", "))
  }

  private val two = Seq("q_agg_sum_count", "q_dedup_exact")

  private def out(body: => Unit): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("Plans prints the final adaptive plan of named queries") {
    val printed = out(Plans.run(spark, Array(sf, two.mkString(","))))
    assert(printed.split("\n").count(_.startsWith("AdaptiveSparkPlan isFinalPlan=true")) == 2,
      printed)
  }

  test("Plans writes the formatted plan text of named queries") {
    val dir = Files.createTempDirectory("graft_plans_spec")
    out(Plans.run(spark, Array(sf, two.mkString(","), dir.toString, "t")))
    two.foreach { q =>
      val txt = Files.readString(dir.resolve(s"${q}_t.txt"))
      assert(txt.startsWith("== Physical Plan =="), txt.take(200))
    }
  }

  test("corpus preparation refuses a corpus larger than the free scratch") {
    val tag = "headroom_spec"
    val err = intercept[IllegalArgumentException] {
      ScaleStress.corpora(spark, sf, tag, (Int.MaxValue, "default"))
    }
    assert(err.getMessage.contains("free"), err.getMessage)
    assert(!new java.io.File(s"${ProcScratch.base}/$tag").exists())
  }
}
