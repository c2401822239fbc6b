package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet").cache()

  test("brute-force cosine top-k matches a driver-local computation") {
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val got = Similarity.cosineTopK(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2).map(_._3).toSeq).toMap
    val sample = vecs.keys.toSeq.sorted.take(20)
    sample.foreach { q =>
      val want = vecs.keys.filter(_ != q).toSeq
        .map(n => (n, cos(vecs(q), vecs(n))))
        .sortBy { case (n, c) => (-c, n) }.take(3).map(_._1)
      assert(got(q) == want, s"qid $q: ${got(q)} != $want")
    }
  }

  test("every top-k result row is a genuine k-nearest (rank values dense 1..k)") {
    val rows = Similarity.cosineTopK(emb, "vec_id", "embedding", k = 4)
      .as[(Long, Long, Long)].collect()
    val byQ = rows.groupBy(_._1)
    assert(byQ.values.forall(_.map(_._2).sorted.toSeq == Seq(1L, 2L, 3L, 4L)))
    assert(byQ.size == emb.count())
  }

  test("LSH ANN recall beats random-candidate baseline at bounded candidate cost") {
    // random isotropic embeddings are LSH's worst case (all cosines
    // near 0) — assert the mechanism beats chance by a wide margin,
    // not a production recall bar
    val n = emb.count().toDouble
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val approx = Similarity.lshTopK(emb, "vec_id", "embedding",
        k = 5, planes = 4, rotations = 8)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      approx.get(q).map(_.intersect(exact(q)).size / 5.0).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    // chance level: examining c candidates at random gives c/n recall;
    // 4 planes × 8 rotations examines ≈ 8·n/16 pairs ⇒ chance ≈ 0.5?
    // no: per-query candidates ≈ 8 rotations × n/2^4 ≈ n/2 — so
    // require clearly above that baseline
    assert(mean >= 0.6, s"mean ANN recall too low vs candidate volume: $mean")
  }

  test("LSH top-k with k >= n ranks both orientations of lshPairs by cosine") {
    val vecs = emb.select($"vec_id", $"embedding")
      .as[(Long, Seq[Float])].collect().toMap
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val ad = a.map(_.toDouble); val bd = b.map(_.toDouble)
      val d = ad.zip(bd).map { case (x, y) => x * y }.sum
      d / (math.sqrt(ad.map(x => x * x).sum) * math.sqrt(bd.map(x => x * x).sum))
    }
    val pairs = Similarity.lshPairs(emb, "vec_id", "embedding", planes = 6, rotations = 3)
      .as[(Long, Long)].collect()
    val want = (pairs ++ pairs.map(_.swap)).groupBy(_._1).map { case (q, ps) =>
      q -> ps.map(_._2).toSeq.sortBy(n => (-cos(vecs(q), vecs(n)), n))
    }
    val got = Similarity.lshTopK(emb, "vec_id", "embedding",
        k = vecs.size, planes = 6, rotations = 3)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).map { case (q, rs) => q -> rs.sortBy(_._2).map(_._3).toSeq }
    assert(want.nonEmpty)
    assert(got == want)
  }

  test("cosine near-dup: LSH candidate path recovers exactly the brute pairs") {
    val dv = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" % 10 === 0)
        .select(($"vec_id" + 1000000).as("vec_id"), $"embedding"))
    val pairs = dv.select($"vec_id".as("id1"))
      .join(dv.select($"vec_id".as("id2")), col("id1") < col("id2"))
    val brute = Similarity.cosineNearDup(dv, "vec_id", "embedding", pairs, 0.95)
      .as[(Long, Long, Long)].collect().toSet
    val viaLsh = Similarity.cosineNearDup(dv, "vec_id", "embedding",
      Similarity.lshPairs(dv, "vec_id", "embedding", planes = 6, rotations = 4), 0.95)
      .as[(Long, Long, Long)].collect().toSet
    // planted exact copies: every 10th id pairs with its clone at cos≈1
    val planted = emb.filter($"vec_id" % 10 === 0).select($"vec_id")
      .as[Long].collect().map(id => (id, id + 1000000)).toSet
    assert(brute.map(r => (r._1, r._2)) == planted)
    assert(viaLsh == brute, "LSH candidates missed a ≥-threshold pair")
    assert(brute.forall(_._3 >= 950))
  }

  test("IVF ANN: planted copies recovered exactly; top-k recall beats list share") {
    // planted-copy exactness (the same provable property as LSH):
    // identical vectors share every centroid similarity → same list
    val dv = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" % 10 === 0)
        .select(($"vec_id" + 1000000).as("vec_id"), $"embedding"))
    val viaIvf = Similarity.cosineNearDup(dv, "vec_id", "embedding",
      Similarity.ivfPairs(dv, "vec_id", "embedding", nlist = 8, iters = 2), 0.95)
      .as[(Long, Long, Long)].collect().toSet
    val planted = emb.filter($"vec_id" % 10 === 0).select($"vec_id")
      .as[Long].collect().map(id => (id, id + 1000000)).toSet
    assert(viaIvf.map(r => (r._1, r._2)) == planted,
      "IVF lists missed a planted exact copy")
    // recall: nprobe/nlist = 3/8 of the data examined at random would
    // give ~0.38 recall; the trained quantizer must beat that clearly
    val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", k = 5)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val approx = Similarity.ivfTopK(emb, "vec_id", "embedding",
        k = 5, nlist = 8, nprobe = 3, iters = 2)
      .as[(Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._3).toSet).toMap
    val recalls = exact.keys.toSeq.map { q =>
      approx.get(q).map(_.intersect(exact(q)).size / 5.0).getOrElse(0.0)
    }
    val mean = recalls.sum / recalls.size
    assert(mean >= 0.5, s"IVF recall no better than random probing: $mean")
  }

  test("IVF centroids trained on a sample still recover planted copies") {
    // the 100-TB path: the quantizer sees a fraction of the data;
    // list assignment still runs over ALL rows, so exact copies stay
    // co-listed regardless of which rows trained the centroids
    val dv = emb.select($"vec_id", $"embedding").unionByName(
      emb.filter($"vec_id" % 10 === 0)
        .select(($"vec_id" + 1000000).as("vec_id"), $"embedding"))
    val cents = Similarity.trainIvfCentroids(dv, "vec_id", "embedding",
      nlist = 8, iters = 2, trainFraction = 0.2)
    assert(cents.size == 8 && cents.forall(_.nonEmpty))
    val viaIvf = Similarity.cosineNearDup(dv, "vec_id", "embedding",
      Similarity.ivfPairs(dv, "vec_id", "embedding", nlist = 8, iters = 2), 0.95)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val planted = emb.filter($"vec_id" % 10 === 0).select($"vec_id")
      .as[Long].collect().map(id => (id, id + 1000000)).toSet
    assert(viaIvf == planted)
  }

  test("empty embeddings table yields empty results, not an exception") {
    val empty = emb.limit(0)
    assert(Similarity.lshTopK(empty, "vec_id", "embedding", k = 3).isEmpty)
    assert(Similarity.lshPairs(empty, "vec_id", "embedding").isEmpty)
    assert(Similarity.ivfPairs(empty, "vec_id", "embedding").isEmpty)
    assert(Similarity.ivfTopK(empty, "vec_id", "embedding", k = 3).isEmpty)
    // schema preserved for downstream unions/joins
    assert(Similarity.lshTopK(empty, "vec_id", "embedding", k = 3)
      .columns.toSeq == Seq("qid", "rank", "nid"))
    assert(Similarity.lshPairs(empty, "vec_id", "embedding")
      .columns.toSeq == Seq("id1", "id2"))
  }

  test("deterministic: same plan twice gives identical rows") {
    val a = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    val b = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b)
  }

  test("autoPlanes keeps bucket occupancy ~constant as the corpus grows") {
    // 2^planes scales with n: +10x corpus → ~+log2(10) planes
    assert(Similarity.autoPlanes(500L) === 4)              // clamp floor
    assert(Similarity.autoPlanes(50000L) === 8)            // 50000/256 → 2^8
    assert(Similarity.autoPlanes(500000L) === 11)
    assert(Similarity.autoPlanes(5000000L) === 15)
    assert(Similarity.autoPlanes(Long.MaxValue) === 24)    // clamp ceiling
    assert(Similarity.autoNlist(1000L) === 16)             // clamp floor
    assert(Similarity.autoNlist(50000L) === 49)
    // past LiteralNlistMax the LOOPED probe path carries the
    // centroids as one plan constant — nlist keeps scaling
    assert(Similarity.autoNlist(10000000L) === 4096)       // plan-constant cap
    assert(Similarity.autoNlist(300000L) === 293)          // between the bounds
  }

  test("looped probe expression is bit-equal to the unrolled literal form") {
    // the ONLY difference between the ≤128 and >128 IVF paths is the
    // probe expression; pin their equality on every fixture vector
    // at several nprobe values so the dispatch in ivfProbeIds is a
    // pure performance choice, never a semantic one
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 20, iters = 2)
    for (nprobe <- Seq(1, 3, 20)) {
      val both = emb.select(
        $"vec_id",
        Similarity.ivfProbeIdsUnrolled(
          col("embedding").cast("array<double>"), cents, nprobe).as("u"),
        Similarity.ivfProbeIdsLooped(
          col("embedding").cast("array<double>"), cents, nprobe).as("l"))
      assert(both.filter(col("u") =!= col("l")).isEmpty,
        s"probe paths diverged at nprobe=$nprobe")
    }
  }

  test("nlist=512 looped IVF: runs past the literal-codegen bound, exact copies co-listed") {
    // 2000 deterministic synthetic vectors (seeded — enough rows that
    // nlist=512 init has 512 distinct seeds) + planted exact copies;
    // the looped path must both EXECUTE (the old bound was a JIT
    // method-size failure) and keep the provable planted-copy
    // property (identical vectors share every centroid similarity)
    val rnd = new scala.util.Random(42)
    val base = (0L until 2000L).map { id =>
      (id, Seq.fill(16)(rnd.nextFloat() - 0.5f))
    }
    val dv = base.toDF("vec_id", "embedding").unionByName(
      base.filter(_._1 % 100 == 0)
        .map { case (id, v) => (id + 1000000L, v) }
        .toDF("vec_id", "embedding"))
    val pairs = Similarity.ivfPairs(dv, "vec_id", "embedding",
      nlist = 512, iters = 1)
    val got = Similarity.cosineNearDup(dv, "vec_id", "embedding", pairs, 0.95)
      .select($"id1", $"id2").as[(Long, Long)].collect().toSet
    val planted = base.map(_._1).filter(_ % 100 == 0)
      .map(id => (id, id + 1000000L)).toSet
    assert(planted.subsetOf(got),
      s"looped IVF missed planted copies: ${planted.diff(got)}")
    // and the top-k surface also runs end to end at nlist > 128
    val topk = Similarity.ivfTopK(dv, "vec_id", "embedding",
      k = 3, nlist = 512, nprobe = 8, iters = 1)
    assert(topk.groupBy($"qid").count().filter($"count" > 3).isEmpty)
    assert(topk.count() > 0)
  }

  test("looped probe plan carries ONE centroid constant, not nlist literal dots") {
    val cents = Similarity.trainIvfCentroids(emb, "vec_id", "embedding",
      nlist = 16, iters = 1)
    def dots(c: org.apache.spark.sql.DataFrame): Int =
      "dotproduct".r.findAllIn(
        c.queryExecution.analyzed.toString.toLowerCase).length
    val unrolled = emb.select(Similarity.ivfProbeIdsUnrolled(
      col("embedding").cast("array<double>"), cents, 2).as("p"))
    val looped = emb.select(Similarity.ivfProbeIdsLooped(
      col("embedding").cast("array<double>"), cents, 2).as("p"))
    assert(dots(unrolled) >= 16, "unrolled form should embed one dot per centroid")
    assert(dots(looped) <= 2,
      "looped form must not scale the plan with nlist")
    // and no join was introduced: probing stays row-local
    val p = looped.queryExecution.executedPlan.toString
    assert(!p.contains("Join") && !p.contains("Exchange"), p)
  }

  test("auto variants equal the pinned operators at the auto-chosen parameter") {
    val n = emb.count()
    val auto = Similarity.lshTopKAuto(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long)].collect().toSet
    val pinned = Similarity.lshTopK(emb, "vec_id", "embedding", k = 3,
        planes = Similarity.autoPlanes(n))
      .as[(Long, Long, Long)].collect().toSet
    assert(auto === pinned)
    val autoPairs = Similarity.lshPairsAuto(emb, "vec_id", "embedding")
      .as[(Long, Long)].collect().toSet
    val pinnedPairs = Similarity.lshPairs(emb, "vec_id", "embedding",
        planes = Similarity.autoPlanes(n))
      .as[(Long, Long)].collect().toSet
    assert(autoPairs === pinnedPairs)
  }

  test("IVF candidate pairs arrive unique WITHOUT a distinct") {
    // the invariant behind dropping the candidate `.distinct()`
    // (guide §2.4 — it was a full exchange of the pair set for a
    // no-op): each id sits in exactly ONE inverted list (top-1
    // assignment) and a probe list holds nprobe DISTINCT centroid
    // ids, so no (id1, id2) — and no ivfTopK (qid, nid) candidate —
    // can arise twice. If someone reintroduces a duplicate source
    // (e.g. multi-assignment), this pins the regression.
    val pairs = Similarity.ivfPairs(emb, "vec_id", "embedding",
        nlist = 8, iters = 2)
      .as[(Long, Long)].collect().toSeq
    assert(pairs.size === pairs.distinct.size)
    // ranks dense 1..k proves the scored candidate set fed to the
    // window had no duplicate (qid, nid) rows either (a duplicate
    // would produce two rows of the same pair at adjacent ranks)
    val topk = Similarity.ivfTopK(emb, "vec_id", "embedding", k = 3,
        nlist = 8, nprobe = 3, iters = 2)
      .as[(Long, Long, Long)].collect().toSeq
    val byQ = topk.groupBy(_._1)
    assert(byQ.values.forall(rows =>
      rows.map(_._2).sorted.toSeq == (1L to rows.length)))
    assert(byQ.values.forall(rows =>
      rows.map(_._3).distinct.size == rows.size))
  }

  test("IVF rejects a repeated id before building candidates") {
    // one vector re-sent under an existing id: unchecked, it would land
    // in its list twice and yield duplicate (or self) candidates
    val dupId = emb.agg(min($"vec_id")).as[Long].head()
    val dv = emb.unionByName(emb.filter($"vec_id" =!= dupId).limit(1)
      .withColumn("vec_id", lit(dupId)))
    val calls = Seq[() => Any](
      () => Similarity.ivfPairs(dv, "vec_id", "embedding", nlist = 8, iters = 2)
        .collect(),
      () => Similarity.ivfTopK(dv, "vec_id", "embedding", k = 3, nlist = 8,
        nprobe = 3, iters = 2).collect())
    calls.foreach { call =>
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("vec_id") && e.getMessage.contains(dupId.toString),
        e.getMessage)
    }
  }

  test("ivfTopKAuto returns dense ranked results on the fixture") {
    val out = Similarity.ivfTopKAuto(emb, "vec_id", "embedding", k = 3)
      .as[(Long, Long, Long)].collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_._1)
    assert(byQ.values.forall(rows =>
      rows.map(_._2).sorted.toSeq == (1L to rows.length)))
  }
}
