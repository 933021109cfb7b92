package graft

import graft.ops.Similarity
import org.apache.spark.sql.DataFrame

/** The shared graph kernels behind the bounded and full-corpus graph keys,
  * on hand-built graphs of at most 8 vertices whose answers are worked out
  * by hand. The kernels take the directed edge list (a_id, b_id) and, for
  * the label analytics, the (vec_id, label) relation, so no fixture or
  * index store is involved.
  */
class GraphKernelsSpec extends SparkSpec {
  /** Directed edges, one orientation per undirected edge. */
  private def knn(edges: (Long, Long)*): DataFrame = spark.createDataFrame(edges).toDF("a_id", "b_id")

  private def labels(vl: (Long, Int)*): DataFrame =
    spark.createDataFrame(vl).toDF("vec_id", "label")

  test("triangle census: K4 plus a pendant edge has 5 vertices, 7 edges, 4 triangles") {
    val g = knn((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (1L, 3L), (2L, 3L), (3L, 4L))
    val r = Similarity.triangleCensus(g).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("n_vertices") === 5L)
    assert(r.head.getAs[Long]("n_edges") === 7L)
    assert(r.head.getAs[Long]("n_triangles") === 4L)
  }

  test("triangle census: both orientations of an edge count once") {
    val g = knn((0L, 1L), (1L, 0L), (1L, 2L), (2L, 1L), (2L, 0L), (0L, 2L))
    val r = Similarity.triangleCensus(g).head()
    assert((r.getAs[Long]("n_vertices"), r.getAs[Long]("n_edges"),
      r.getAs[Long]("n_triangles")) === ((3L, 3L, 1L)))
  }

  test("degree assortativity: a 4-leaf star is perfectly disassortative (-1.0)") {
    val g = knn((0L, 1L), (0L, 2L), (3L, 0L), (4L, 0L))
    val r = Similarity.degreeAssortativity(g).head()
    assert(r.getAs[Long]("n_edges") === 4L)
    assert(r.getAs[Double]("assortativity") === -1.0)
  }

  test("label modularity: two disjoint triangles, one label each, give 0.5") {
    val g = knn((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L))
    val l = labels((0L, 1), (1L, 1), (2L, 1), (3L, 2), (4L, 2), (5L, 2))
    val r = Similarity.labelModularity(l, g).head()
    assert(r.getAs[Long]("l_edges") === 6L)
    assert(r.getAs[Long]("intra") === 6L)
    assert(r.getAs[Double]("modularity") === 0.5)
  }

  test("neighbour Jaccard: on the path 0-1-2 the pair (0, 2) scores 1.0") {
    val r = Similarity.neighbourJaccard(knn((0L, 1L), (2L, 1L))).collect()
    assert(r.length === 1)
    assert((r.head.getAs[Long]("u"), r.head.getAs[Long]("v")) === ((0L, 2L)))
    assert(r.head.getAs[Long]("n_common") === 1L)
    assert(r.head.getAs[Double]("jaccard") === 1.0)
  }

  test("label propagation: a held-out vertex takes its two neighbours' label") {
    // vertex 0 is held out (vec_id % 5 == 0); its true label 3 is hidden,
    // and both its neighbours carry label 7
    val l = labels((0L, 3), (1L, 7), (2L, 7))
    val r = Similarity.labelPropagation(l, knn((0L, 1L), (2L, 0L))).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("vec_id") === 0L)
    assert(r.head.getAs[Int]("label_true") === 3)
    assert(r.head.getAs[Int]("label_pred") === 7)
    assert(r.head.getAs[Int]("correct") === 0)
  }
}
