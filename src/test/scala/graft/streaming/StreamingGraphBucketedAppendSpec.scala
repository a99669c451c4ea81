package graft.streaming

import graft.SparkSpec
import graft.ops.{GraphAnn, IndexIo}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Nightly-append lifecycle for the BUCKETED graph persistence (n53):
  * a stream of vector batches folds through
  * load-bucketed → append → re-save-bucketed, ping-ponging between
  * two directories (the atomic-swap discipline — the bucketed node
  * scan is a lazy catalog read of the save directory, so a saver must
  * never overwrite the directory it is reading). Append is provably
  * rebuild-equivalent (n33), so the index after any stream prefix
  * must equal a from-scratch build over everything seen — through the
  * bucketed layout, shuffle-regime serve included.
  */
class StreamingGraphBucketedAppendSpec extends SparkSpec {

  case class Vec(vec_id: Long, embedding: Array[Float])

  private def vec(i: Int): Array[Float] =
    Array.tabulate(16)(j => (math.sin(i * 17 + j * 5).abs +
      0.25 * (i % 3)).toFloat)

  test("streamed appends through the bucketed layout converge to the rebuild") {
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    val base = (0 until 60).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val idx0 = GraphAnn.buildGraphIndex(base, nlist = 4, degree = 4,
      crossDegree = 2)
    val dirA = java.nio.file.Files
      .createTempDirectory("graphbktA").toString
    val dirB = java.nio.file.Files
      .createTempDirectory("graphbktB").toString
    IndexIo.Graph.saveBucketed(idx0, dirA, "graph_bkt_stream",
      buckets = 4)
    @volatile var cur = dirA
    @volatile var next = dirB

    val input = MemoryStream[Vec]
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val grown = GraphAnn.appendToGraphIndex(
            IndexIo.Graph.loadBucketed(spark, cur, "graph_bkt_stream")._1,
            batch)
          IndexIo.Graph.saveBucketed(grown, next,
            "graph_bkt_stream", buckets = 4)
          val t = cur; cur = next; next = t
        }
        ()
      }
      .start()
    input.addData((60 until 75).map(i => Vec(i.toLong, vec(i))): _*)
    q.processAllAvailable()
    input.addData((75 until 90).map(i => Vec(i.toLong, vec(i))): _*)
    q.processAllAvailable()
    q.stop()

    val (loaded, _) = IndexIo.Graph.loadBucketed(spark, cur,
      "graph_bkt_stream")
    val rebuilt = GraphAnn.buildGraphIndex(
      (0 until 90).map(i => (i.toLong, vec(i)))
        .toDF("vec_id", "embedding"),
      nlist = 4, degree = 4, crossDegree = 2)
    def nbrs(i: GraphAnn.GraphIndex) = i.nodes
      .select("n_id", "neighbors").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    nbrs(loaded) shouldBe nbrs(rebuilt)
    // and the layout still serves exchange-lean: the loaded node scan
    // is the bucketed catalog table, so a shuffle-regime serve agrees
    // with the in-memory index serve
    val queries = (0 until 90 by 11).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    def ranks(i: GraphAnn.GraphIndex) =
      GraphAnn.queryGraphIndex(queries, i, k = 3, beam = 3, hops = 2,
        broadcastFrontier = Some(false))
        .select("q_id", "n_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    ranks(loaded) shouldBe ranks(rebuilt)
  }
}
