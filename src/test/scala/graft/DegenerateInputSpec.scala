package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Empty, edgeless, zero-round and all-null inputs for the operators that
  * pin an intermediate and read its size: each gives a well-defined
  * result or a clear argument error, never an opaque failure.
  */
class DegenerateInputSpec extends SparkSuite {
  import spark.implicits._

  private def noEdges = Seq.empty[(Long, Long)].toDF("src", "dst")

  test("pagerank: no edges and no nodes is refused, edgeless nodes stay uniform") {
    for (nodes <- Seq(None, Some(Seq.empty[Long].toDF("node")))) {
      val e = intercept[IllegalArgumentException] {
        graft.graph.PageRank(noEdges, "src", "dst", nodes = nodes)
      }
      assert(e.getMessage.contains("PageRank needs at least one node"))
    }
    // every node dangles: its mass is redistributed uniformly each round
    val scale = 1000000000000L
    val (ranks, rounds) = graft.graph.PageRank.run(noEdges, "src", "dst",
      iterations = 4, nodes = Some(Seq(3L, 1L, 2L).toDF("node")),
      tolerance = 1L)
    var r = scale / 3
    val tele = 15L * r / 100L
    var expected = List.empty[Long]
    for (_ <- 1 to rounds) { r = tele + 85L * (3L * r) / 300L; expected ::= r }
    assert(ranks.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap ==
      Map(1L -> r, 2L -> r, 3L -> r))
    assert(rounds >= 1 && rounds <= 4)
  }

  test("label propagation: zero rounds and no edges keep the seed labels") {
    val nodes = Seq(5L, 7L, 9L).toDF("node")
    val seeded = Seq((5L, 50L), (7L, 70L)).toDF("node", "label")
    val someEdges = Seq((5L, 7L), (7L, 9L)).toDF("src", "dst")
    def labels(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    assert(labels(graft.graph.LabelPropagation(nodes, someEdges, iters = 0)) ==
      Map(5L -> 5L, 7L -> 7L, 9L -> 9L))
    assert(labels(graft.graph.LabelPropagation(nodes, noEdges, iters = 3)) ==
      Map(5L -> 5L, 7L -> 7L, 9L -> 9L))
    assert(labels(graft.graph.LabelPropagation(seeded, noEdges, iters = 2)) ==
      Map(5L -> 50L, 7L -> 70L))
  }

  test("k-means and PQ refuse all-null vectors with the row count") {
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", ArrayType(DoubleType))))
    val nulls = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq.tabulate(5)(i =>
        org.apache.spark.sql.Row(i.toLong, null))), schema)
    val km = intercept[IllegalArgumentException] {
      graft.similarity.KMeans.fit(nulls, "id", "v", k = 2, iters = 1)
    }
    assert(km.getMessage.contains("need >= 2 non-null vectors, got 0"))
    val pq = intercept[IllegalArgumentException] {
      graft.similarity.PqAnn.fit(nulls, "id", "v", m = 1, ksub = 4, iters = 1)
    }
    assert(pq.getMessage.contains("need >= 4 non-null vectors, got 0"))
  }

  test("line dedup with no frequent line returns every document unchanged") {
    val docs = Seq((1L, "alpha\nbeta"), (2L, "gamma"), (3L, ""))
      .toDF("doc_id", "text")
    val out = graft.text.LineDedup(docs, "doc_id", "text", minDocs = 2)
      .select("doc_id", "text", "n_lines", "n_removed")
      .as[(Long, String, Long, Long)].collect().sortBy(_._1).toSeq
    assert(out == Seq((1L, "alpha\nbeta", 2L, 0L), (2L, "gamma", 1L, 0L),
      (3L, "", 0L, 0L)))
  }
}
