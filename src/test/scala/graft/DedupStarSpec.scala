package graft

import graft.ops.Dedup
import org.apache.spark.sql.functions._

/** Large-star/small-star connected components (VERDICT r2 #1): the
  * scale-safe O(log² n)-round clustering path, which since round 5 backs
  * BOTH registry keys (v1 delegated per VERDICT r4 #4). The adversarial
  * case is a chained dup-cluster (path graph) whose diameter would defeat
  * an O(diameter) propagation loop — exactly what a scraped corpus's
  * A≈B≈C≈… chains produce.
  */
class DedupStarSpec extends SparkSpec {
  private val s = SparkSpec.spark
  import s.implicits._

  test("star CC: adversarial path graph (diameter 80) converges in O(log² n) rounds") {
    // path 0-1-2-…-80: a propagation loop would need 80 rounds; the
    // alternating-star rewrite collapses it fast
    val pairs = (0L until 80L).map(i => (i, i + 1)).toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.starComponents(pairs)
    val out = labels.collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.length == 81, s"all 81 nodes must be labeled, got ${out.length}")
    assert(out.forall(_._2 == 0L), "every node's component is the path minimum 0")
    assert(rounds <= 12, s"round count must be O(log² n), not O(diameter): $rounds")
  }

  test("star CC: multi-component graph gets exact per-component minima") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),          // path component → min 1
      (10L, 11L), (11L, 12L), (12L, 10L),    // triangle → min 10
      (31L, 30L),                            // pair, reversed input order
      (40L, 41L), (41L, 40L)                 // duplicate edge both ways
    ).toDF("a_id", "b_id")
    val (labels, _) = Dedup.starComponents(pairs)
    val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      30L -> 30L, 31L -> 30L, 40L -> 40L, 41L -> 40L)
    assert(got == want, s"got $got")
  }

  test("star CC: empty edge set converges immediately to empty labels") {
    val pairs = Seq.empty[(Long, Long)].toDF("a_id", "b_id")
    val (labels, rounds) = Dedup.starComponents(pairs)
    assert(labels.count() == 0)
    assert(rounds == 1)
  }

  test("star CC: random graphs match a union-find model (fixed seeds)") {
    for (seed <- Seq(7L, 23L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val n = 60
      val edges = Seq.fill(70)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // model: union-find → min node per component
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      edges.foreach { case (a, b) => parent(find(a.toInt)) = find(b.toInt) }
      val members = (0 until n).groupBy(find)
      val touched = edges.flatMap(e => Seq(e._1, e._2)).toSet
      val want = members.values.flatMap { ms =>
        val mn = ms.min.toLong
        ms.filter(m => touched.contains(m.toLong)).map(m => m.toLong -> mn)
      }.toMap
      val (labels, _) = Dedup.starComponents(edges.toDF("a_id", "b_id"))
      val got = labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"seed $seed: $got vs $want")
    }
  }

  test("fused round (r17) ≡ reference alternating-star loop: labels AND round counts") {
    // the optimization-round-17 fused large+small-star round must be
    // set-equivalent to the pre-fusion reference per round, so labels AND
    // the certificate's firing round agree on every graph shape the loop
    // meets: deep paths (adversarial diameter), stars (already-converged
    // shape), cliques, duplicate/reversed edges, self-loops, and seeded
    // random graphs
    val cases: Seq[Seq[(Long, Long)]] = Seq(
      (0L until 40L).map(i => (i, i + 1)),                   // path
      (1L to 9L).map(i => (0L, i)),                          // min-rooted star
      (1L to 9L).map(i => (9L, i - 1L)),                     // max-centered star
      for { a <- 0L to 6L; b <- 0L to 6L if a < b } yield (a, b), // clique
      Seq((5L, 5L), (1L, 2L), (2L, 1L), (7L, 3L), (3L, 7L)), // self-loop + dups
      Seq.empty[(Long, Long)]
    ) ++ Seq(11L, 42L).map { seed =>
      val rnd = new scala.util.Random(seed)
      Seq.fill(50)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
    }
    cases.zipWithIndex.foreach { case (edges, i) =>
      val df = edges.toDF("a_id", "b_id")
      val (fused, fr) = Dedup.starComponents(df)
      val (ref, rr) = StarComponentsReference(df)
      val f = fused.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val g = ref.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(f == g, s"case $i: fused labels $f differ from reference $g")
      assert(fr == rr, s"case $i: fused converged in $fr rounds, reference $rr")
    }
  }

  test("v1 registry key yields the identical labeling as v2 (delegation contract)") {
    val a = run("dedup_connected_components")
    val b = run("dedup_connected_components_v2")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0,
      "v1 and v2 must produce identical (doc_id, component) labelings")
  }
}
