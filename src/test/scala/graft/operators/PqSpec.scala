package graft.operators

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Product-quantization ANN: recall on clustered embeddings, exactness
  * of the integer pipeline across reruns, zero-shuffle encoding, and
  * lost-centroid carry-over. */
class PqSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  private def clustered() = {
    // clustered corpus (the regime ANN exists for): 20 centers × 20
    // members, members = center + noise, scaled inside the ±2.0 milli
    // clamp so quantization is faithful
    val rnd = new scala.util.Random(7)
    val centers = Array.fill(20)(Array.fill(16)(rnd.nextGaussian() * 0.5))
    val rows = for (c <- centers.indices; m <- 0 until 20) yield {
      val v = centers(c).map(x => (x + rnd.nextGaussian() * 0.1).toFloat)
      ((c * 20 + m).toLong, v)
    }
    rows.toDF("vec_id", "embedding")
  }

  test("PQ ADC: cluster-level precision on clustered embeddings, bit-deterministic rerun") {
    val corpus = clustered()
    val queries = corpus.filter($"vec_id" % 20 === 0 && $"vec_id" < 120)
      .select($"vec_id".as("qid"), $"embedding")
    val run1 = Pq.pqTopK(corpus, queries, "embedding", "vec_id", "qid",
      m = 4, k = 8, iters = 2, topk = 5)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    // 4×3-bit codes cannot rank WITHIN a cell (all members of a tight
    // cluster share a code and tie) — the contract is cluster-level:
    // retrieved neighbors come from the query's own cluster
    val sameCluster = run1.count(t => t._2 / 20 == t._1 / 20)
    val precision = sameCluster.toDouble / run1.size
    assert(precision >= 0.7, s"cluster precision $precision too low for ADC")
    // ranks are contiguous 1..5 per query
    val byQ = run1.groupBy(_._1)
    assert(byQ.values.forall(_.map(_._3).toSeq.sorted == (1L to 5L)))
    // integer pipeline: a second train+encode+search run is bit-identical
    val run2 = Pq.pqTopK(corpus, queries, "embedding", "vec_id", "qid",
      m = 4, k = 8, iters = 2, topk = 5)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet
    assert(run1 == run2)
  }

  test("encode: codes in 1..k, scan-side only (no Exchange in the plan)") {
    val corpus = clustered()
    val cb = Pq.train(corpus, "embedding", "vec_id", m = 4, k = 8, iters = 1)
    assert(cb.centers.length == 4 * 8 && cb.centers.forall(_.length == 4))
    val codes = Pq.encode(corpus, "embedding", "vec_id", cb)
    val bad = codes.filter(exists(col("codes"),
      c => c < 1 || c > 8) || size(col("codes")) =!= 4).count()
    assert(bad == 0)
    // the codebook is a plan literal: encoding must be a pure scan —
    // an Exchange here would mean the 100 TB index build shuffles
    val plan = codes.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"encode plan shuffles:\n$plan")
  }

  test("IVFADC: results come only from probed cells and agree with a cell-restricted exact PQ scan") {
    val corpus = clustered()
    val queries = corpus.filter($"vec_id" % 20 === 0 && $"vec_id" < 120)
      .select($"vec_id".as("qid"), $"embedding")
    val (nCells, nProbe, m, k, iters, topk) = (6, 2, 4, 8, 2, 5)
    val ivf = Pq.ivfPqTopK(corpus, queries, "embedding", "vec_id", "qid",
      nCells, nProbe, m, k, iters, topk)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect().toSet

    // independent reconstruction of the candidate gate: coarse = PQ m=1
    val coarse = Pq.train(corpus, "embedding", "vec_id", 1, nCells, iters)
    val cellOf = Pq.encode(corpus, "embedding", "vec_id", coarse)
      .select($"id", element_at($"codes", 1).as("cell"))
      .as[(Long, Int)].collect().toMap
    // every returned id must live in one of its query's probed cells —
    // derived by brute force from the coarse codebook (integer algebra
    // mirrored exactly; Long math like the kernel)
    val qemb = queries.select($"qid", $"embedding").as[(Long, Seq[Float])]
      .collect().toMap
    def milli(v: Seq[Float]): Seq[Long] =
      v.map(x => math.max(-2000L, math.min(2000L, math.round(x.toDouble * 1000))) + 2000L)
    def probed(q: Seq[Float]): Set[Int] = {
      val e = milli(q)
      (1 to nCells).map { cid =>
        val c = coarse.centers(cid - 1)
        val d = e.zip(c).map { case (a, b) => val t = a * 1000L - b; t * t }.sum
        (d, cid)
      }.sortBy(identity).take(nProbe).map(_._2).toSet
    }
    assert(ivf.forall { case (qid, id, _) => probed(qemb(qid))(cellOf(id)) },
      "IVFADC returned an id outside its query's probed cells")
    // and within the gated candidate set the ranking equals full PQ ADC
    // restricted to those cells: run pqTopK with a huge topk and filter
    val full = Pq.pqTopK(corpus, queries, "embedding", "vec_id", "qid",
      m, k, iters, topk = 400)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect()
    val expected = full.groupBy(_._1).toSeq.flatMap { case (qid, rows) =>
      val cells = probed(qemb(qid))
      rows.sortBy(_._3).filter(r => cells(cellOf(r._2))).take(topk)
        .zipWithIndex.map { case (r, i) => (qid, r._2, (i + 1).toLong) }
    }.toSet
    assert(ivf == expected, "IVFADC ranking diverges from cell-restricted exact ADC")
  }

  test("training skips a wrong-length embedding: same codebook as without it") {
    val corpus = clustered()
    // the short vector's id sorts after the k=8 seed draw (smallest
    // md5(id)), so only the Lloyd rounds ever see it
    def md5(id: Long): String = java.security.MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val seedCut = (0L until 400L).map(md5).sorted.apply(7)
    val shortId = Iterator.from(1000).map(_.toLong).find(md5(_) > seedCut).get
    val withShort = corpus.unionByName(
      Seq((shortId, Array.fill(15)(1.9f))).toDF("vec_id", "embedding"))
    val base = Pq.train(corpus, "embedding", "vec_id", m = 4, k = 8, iters = 2)
    assert(Pq.train(withShort, "embedding", "vec_id", m = 4, k = 8, iters = 2) == base)
  }

  test("degenerate corpus: centroids that lose every member carry over") {
    // 10 identical vectors, k=4: every assignment ties to cid 1, so
    // centroids 2..4 never see a member and must keep their seed
    // coordinates (holes would break literal indexing)
    val corpus = (0L until 10L).map(i => (i, Array.fill(8)(0.5f)))
      .toDF("vec_id", "embedding")
    val cb = Pq.train(corpus, "embedding", "vec_id", m = 2, k = 4, iters = 2)
    assert(cb.centers.length == 8 && cb.centers.forall(_.nonEmpty))
    val codes = Pq.encode(corpus, "embedding", "vec_id", cb)
      .select("codes").as[Seq[Int]].collect()
    assert(codes.forall(_.forall(_ == 1)))
  }

  test("rerankExact restores the true-distance order an ADC shortlist scrambles") {
    val corpus = clustered()
    val queries = corpus.filter($"vec_id" % 20 === 0 && $"vec_id" < 120)
      .select($"vec_id".as("qid"), $"embedding")
    // a generous ADC shortlist (all the tight-cluster ties), re-ranked
    val shortlist = Pq.ivfPqTopK(corpus, queries, "embedding", "vec_id",
      "qid", nCells = 4, nProbe = 4, m = 4, k = 8, iters = 2, topk = 25)
    val got = Pq.rerankExact(shortlist, corpus, queries,
        "embedding", "vec_id", "qid", topk = 3)
      .select("qid", "id", "rank").as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._3).map(_._2).toSeq).toMap
    // driver reference: exact milli-space distance over the SAME
    // shortlist, same (distance, id) tie-break
    def milli(v: Seq[Float]): Seq[Long] =
      v.map(x => math.max(-2000L, math.min(2000L,
        math.round(x.toDouble * 1000))) + 2000L)
    val vecs = corpus.as[(Long, Seq[Float])].collect().toMap
    val cand = shortlist.select("qid", "id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    got.foreach { case (qid, ids) =>
      val qe = milli(vecs(qid))
      val expect = cand(qid)
        .map(id => (id, milli(vecs(id)).zip(qe)
          .map { case (a, b) => (a - b) * (a - b) }.sum))
        .sortBy { case (id, d) => (d, id) }.take(3).map(_._1)
      assert(ids == expect, s"qid $qid: $ids != $expect")
      assert(ids.head == qid, "self is always the exact rank-1 hit")
    }
  }

  test("training rejects a duplicated id before the first round") {
    val dup = clustered().unionByName(clustered().limit(1))
    Seq[() => Any](
      () => Pq.train(dup, "embedding", "vec_id", m = 4, k = 8, iters = 1),
      () => Pq.trainPair(dup, "embedding", "vec_id", nCells = 4, m = 4, k = 8, iters = 1)
    ).foreach { train =>
      val e = intercept[IllegalArgumentException](train())
      assert(e.getMessage.contains("duplicated id"))
    }
  }
}
