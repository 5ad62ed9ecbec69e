package graft

import java.nio.file.{Files, Path}

import org.scalatest.funsuite.AnyFunSuite

/** The file-stream feeds stage their chunks through
  * `Sources.stageChunks`; a chunk with no rows must be skipped, not
  * listed. The derived fixture keeps 15 embeddings, so the arrival
  * chunk `(vec_id div 10) % 3 = 2` is empty. */
class ChunkStagingSpec extends AnyFunSuite {
  import SparkTestSession._

  private lazy val tiny: String = {
    val dir = s"${ProcScratch.base}/tiny_embeddings"
    Files.createDirectories(Path.of(dir))
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents").foreach { t =>
      val link = Path.of(dir, s"$t.parquet")
      if (!Files.exists(link))
        Files.createSymbolicLink(link, Path.of(sf, s"$t.parquet").toAbsolutePath)
    }
    spark.read.parquet(s"$sf/embeddings.parquet").filter("vec_id < 15")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def rows(q: String): Set[String] =
    try SparkEntry.queries(q)(spark, tiny).collect().map(_.toString).toSet
    finally ScratchCache.release()

  Seq("q_stream_ann_ingest" -> "q_ann_incremental_trained",
      "q_stream_ann_ingest_l3" -> "q_ann_incremental_l3").foreach {
    case (stream, batch) =>
      test(s"$stream runs with an empty chunk and equals $batch") {
        val got = rows(stream)
        assert(got.nonEmpty)
        assert(got == rows(batch))
      }
  }

  test("q_snapshot_catalog leaves no graft_snapcat dir in java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def snapcats(): Set[String] = Option(tmp.list()).toSet.flatten
      .filter(_.startsWith("graft_snapcat"))
    val before = snapcats()
    try assert(SparkEntry.queries("q_snapshot_catalog")(spark, sf).count() > 0)
    finally ScratchCache.release()
    assert(snapcats() == before)
  }
}
