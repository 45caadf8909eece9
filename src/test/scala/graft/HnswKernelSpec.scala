package graft

import org.apache.spark.sql.catalyst.util.ArrayData
import org.scalatest.funsuite.AnyFunSuite

import graft.expressions.CosineSimilarity
import graft.operators.{Hnsw, HnswKernel}

/** The graph kernel's scoring step against its definition. `topMOf`
  * skips rounding a cosine that sits more than 1e-6 under the current
  * M-th sim; here the step must equal "sort by (round6(cosine) desc, id
  * asc), take M" over seeded vectors built to crowd the M-th sim with
  * exact ties and near-ties.
  */
class HnswKernelSpec extends AnyFunSuite {

  private def unit(v: Array[Double]): ArrayData = {
    val norm = math.sqrt(v.map(x => x * x).sum)
    ArrayData.toArrayData(v.map(x => (x / norm).toFloat))
  }

  test("top-M with the rounding skip ≡ sort by (round6(cosine) desc, id asc), take M, near-ties included") {
    var nearTies = 0
    for (seed <- 1 to 200) {
      val rnd = new scala.util.Random(seed)
      val dim = 16
      val q = Array.fill(dim)(rnd.nextGaussian())
      // a third of the candidates are random; the rest perturb one of
      // three directions near the query by 1e-7 .. 1e-5 per coordinate,
      // so their round-6 cosines tie or differ in the last digits
      val bases = Seq.fill(3)(q.map(_ + rnd.nextGaussian() * 0.05))
      val ids = rnd.shuffle((1L to 80L).toList)
      val cands = ids.zipWithIndex.map { case (id, i) =>
        val v = if (i % 3 == 0) Array.fill(dim)(rnd.nextGaussian())
        else bases(rnd.nextInt(3)).map(_ + rnd.nextGaussian() * math.pow(10, -5 - rnd.nextInt(3)))
        id -> unit(v)
      }
      val (src, e) = cands.head
      val sims = cands.tail.map { case (id, v) =>
        (id, CosineSimilarity.cosine(e, true, v, true), CosineSimilarity.roundedCosine(e, true, v, true)) }
      val expected = sims.map(t => (t._1, t._3)).sortBy { case (id, sim) => (-sim, id) }.take(Hnsw.M)
      assert(HnswKernel.topMOf(src, e, cands) == expected, s"seed $seed")
      // the merge of two overlapping groups' top-Ms is the top-M of their union
      val (a, b) = (cands.take(50), cands.head +: cands.drop(30))
      val merged = HnswKernel.topPerSrc(
        (HnswKernel.topMOf(src, e, a) ++ HnswKernel.topMOf(src, e, b)).map { case (d, s) => (src, d, s) }, Hnsw.M)
      assert(merged.map(r => (r._2, r._3)) == expected, s"seed $seed: merged groups")
      val mth = expected.last._2
      nearTies += sims.count { case (id, raw, _) => !expected.exists(_._1 == id) && math.abs(raw - mth) <= 1e-6 }
    }
    // the case the skip's bound argues about must actually occur
    assert(nearTies >= 50, s"only $nearTies candidates outside the top-M sit within 1e-6 of the M-th sim")
  }
}
