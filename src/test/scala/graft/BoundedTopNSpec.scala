package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.llm.Similarity

/** Property check for the shared bounded top-n heap (bulk centroid
  * assignment + IMI cell scan both rank through it): for ANY offer
  * sequence and any k, drainIds() must equal the reference full sort by
  * (score desc, id asc) truncated to k — including duplicate scores,
  * duplicate (score, id) pairs, NaN-free extremes, and k larger than the
  * input. Fixed ScalaCheck seed — deterministic. */
class BoundedTopNSpec extends AnyFunSuite {

  private def sample[T](g: Gen[T], n: Int): List[T] =
    Gen.listOfN(n, g).pureApply(Gen.Parameters.default, Seed(7L))

  test("BoundedTopN drain == full sort take k, over generated inputs") {
    val genCase = for {
      n <- Gen.chooseNum(0, 200)
      k <- Gen.chooseNum(1, 40)
      scores <- Gen.listOfN(n, Gen.oneOf(
        Gen.chooseNum(-1.0, 1.0),
        // duplicate-heavy scores to stress the id tie-break
        Gen.oneOf(0.0, 0.5, -0.5, 1.0, -1.0)))
      ids <- Gen.listOfN(n, Gen.chooseNum(0, 50))
    } yield (k, scores.zip(ids))
    for (((k, items), i) <- sample(genCase, 300).zipWithIndex) {
      // capacity is k itself — when k > items.size the heap drains
      // PARTIALLY FILLED, the path a capacity clamp would never exercise
      val heap = new Similarity.BoundedTopN(k)
      items.foreach { case (s, id) => heap.offer(s, id) }
      val got = heap.drainIds().toSeq
      val want = items.sortBy { case (s, id) => (-s, id) }
        .map(_._2).take(math.min(k, items.size)).toSeq
      assert(got == want, s"case $i: k=$k items=${items.take(12)}...")
    }
  }

  test("BoundedTopN ranks by Spark's double ordering: NaN greatest, -0.0 ties 0.0") {
    def drain(k: Int, items: Seq[(Double, Int)]): Seq[Int] = {
      val heap = new Similarity.BoundedTopN(k)
      items.foreach { case (s, id) => heap.offer(s, id) }
      heap.drainIds().toSeq
    }
    val items = Seq((0.5, 1), (Double.NaN, 7), (-0.0, 2), (0.0, 0),
      (Double.NaN, 3), (1.0, 9))
    // reference: sort under catalyst's own double comparator
    val want = items.sortWith { case ((s1, i1), (s2, i2)) =>
      val c = org.apache.spark.sql.catalyst.util.SQLOrderingUtil
        .compareDoubles(s1, s2)
      c > 0 || (c == 0 && i1 < i2)
    }.map(_._2)
    assert(want == Seq(3, 7, 9, 1, 0, 2))
    for (k <- 1 to items.size; order <- Seq(items, items.reverse))
      assert(drain(k, order) == want.take(k), s"k=$k")
  }
}
