package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr, when}
import org.scalatest.funsuite.AnyFunSuite

/** A zero vector has no direction: its cosine is NULL, as the DuckDB
  * oracles compute it, so it ranks last in a top-K and never clears a
  * near-dup threshold — and no embedding query may throw on it. The
  * derived fixture zeroes every embedding with vec_id % 11 = 0 (46 of
  * sf0.001's 500 rows); 11 is coprime to the delete batch's 7, so the
  * delete queries' survivors still hold zero vectors. */
class ZeroVectorSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val zeroed: String =
    derivedFixture("zero_embeddings")(_.withColumn("embedding",
      when(col("vec_id") % 11 === 0,
        expr("transform(embedding, x -> CAST(0 AS FLOAT))"))
        .otherwise(col("embedding"))))

  private def isZero(id: Long): Boolean = id % 11 == 0

  test("the derived fixture holds zero vectors") {
    val zeros = spark.read.parquet(s"$zeroed/embeddings.parquet")
      .filter("aggregate(embedding, 0D, (a, x) -> a + x * x) = 0").count()
    assert(zeros == 46)
  }

  private val embeddingQueries = SparkEntry.queries.keys.toSeq.sorted
    .filter(q => Seq("ann", "embedding", "semantic").exists(q.contains))

  for (q <- embeddingQueries) test(s"$q runs on zero vectors") {
    val df = SparkEntry.queries(q)(spark, zeroed)
    val rows = try df.collect() finally ScratchCache.release()
    val cols = df.columns
    def ids(r: Row, names: String*): Seq[Long] =
      names.filter(cols.contains).map(n => r.getAs[Long](n))
    // a near-dup pair or a SemDeDup decision never involves a zero vector
    rows.foreach { r =>
      val pairIds = ids(r, "vec_id_a", "vec_id_b", "kept_id") ++
        (if (cols.contains("kept_id")) ids(r, "vec_id") else Nil)
      assert(!pairIds.exists(isZero), s"$q paired a zero vector: $r")
    }
    // in a cosine top-K, NULL-cosine neighbors rank after every scored one
    if (cols.contains("cosine") && cols.contains("rn")) {
      val id = cols.head
      rows.groupBy(_.getAs[Long](id)).foreach { case (qid, rs) =>
        val (nul, scored) = rs.partition(_.isNullAt(cols.indexOf("cosine")))
        if (nul.nonEmpty && scored.nonEmpty)
          assert(scored.map(_.getAs[Int]("rn")).max <
            nul.map(_.getAs[Int]("rn")).min, s"$q query $qid")
      }
    }
  }

  test("a zero-vector query gets NULL cosines, ranked last") {
    val rows = try SparkEntry.queries("q_ann_cosine")(spark, zeroed).collect()
      finally ScratchCache.release()
    val zeroQuery = rows.filter(_.getAs[Long]("query_id") == 0L)
    assert(zeroQuery.length == 5 && zeroQuery.forall(_.isNullAt(2)))
    // a non-zero query ranks zero vectors below all 5 scored neighbors
    assert(rows.filter(_.getAs[Long]("query_id") == 1L)
      .forall(r => !r.isNullAt(2) && !isZero(r.getAs[Long]("neighbor_id"))))
  }
}
