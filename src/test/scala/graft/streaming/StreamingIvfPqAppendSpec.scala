package graft.streaming

import graft.SparkSpec
import graft.ops.{IndexIo, Similarity}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Nightly-append lifecycle for the cell-PARTITIONED IVF-PQ serving
  * layout (n52): a stream of vector batches folds through
  * load → append → re-save-partitioned, ping-ponging between two
  * directories (the atomic-swap discipline — a saver must never
  * overwrite the directory its own lazy codes scan is reading).
  * Because encoding is per-row against frozen artifacts, the index
  * after any prefix of the stream must serve EXACTLY like a
  * from-scratch build over everything seen — through the partitioned
  * layout, pruned serve included.
  */
class StreamingIvfPqAppendSpec extends SparkSpec {

  case class Vec(vec_id: Long, embedding: Array[Float])

  private def vec(i: Int): Array[Float] =
    Array.tabulate(16)(j => (math.sin(i * 13 + j * 7).abs +
      0.3 * (i % 4)).toFloat)

  test("streamed appends through the partitioned layout serve like the rebuild") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = (0 until 80).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val idx0 = Similarity.buildIvfPqIndex(base, nlist = 4, m = 4,
      ks = 8, dim = 16)
    val dirA = java.nio.file.Files
      .createTempDirectory("ivfpqstreamA").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("ivfpqstreamB").toString
    IndexIo.IvfPq.savePartitioned(idx0, dirA)
    @volatile var cur = dirA
    @volatile var next = dirB

    val input = MemoryStream[Vec]
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val grown = Similarity.appendToIvfPqIndex(
            IndexIo.IvfPq.load(spark, cur), batch)
          IndexIo.IvfPq.savePartitioned(grown, next)
          val t = cur; cur = next; next = t
        }
        ()
      }
      .start()
    input.addData((80 until 100).map(i => Vec(i.toLong, vec(i))): _*)
    q.processAllAvailable()
    input.addData((100 until 120).map(i => Vec(i.toLong, vec(i))): _*)
    q.processAllAvailable()
    q.stop()

    // the final artifact IS the partitioned layout (one dir per cell)
    new java.io.File(s"$cur/codes").listFiles()
      .count(_.getName.startsWith("cell=")) should be > 0

    val loaded = IndexIo.IvfPq.load(spark, cur)
    // the appends encoded against the SAME frozen artifacts the base
    // build trained, so the rebuild oracle freezes them too
    val rebuilt = Similarity.buildIvfPqIndex(
      (0 until 120).map(i => (i.toLong, vec(i)))
        .toDF("vec_id", "embedding"),
      nlist = 4, m = 4, ks = 8, dim = 16,
      centroids = Some(idx0.cells), codebook = Some(idx0.codebook))
    val queries = (0 until 120 by 17).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    def ranks(df: org.apache.spark.sql.DataFrame) =
      df.select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // probe-all: pruned serve over the reloaded layout vs the
    // in-memory rebuild — exact
    ranks(Similarity.queryIvfPqIndexPruned(queries, loaded, k = 3,
      nprobe = 4)) shouldBe
      ranks(Similarity.queryIvfPqIndex(queries, rebuilt, k = 3,
        nprobe = 4))
    // partial probes: pruned ≡ unpruned on the same loaded layout
    ranks(Similarity.queryIvfPqIndexPruned(queries, loaded, k = 3,
      nprobe = 2)) shouldBe
      ranks(Similarity.queryIvfPqIndex(queries, loaded, k = 3,
        nprobe = 2))
  }
}
