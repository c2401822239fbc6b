package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  *  - [[cosineTopK]]: brute-force baseline — all-pairs cosine + window
  *    top-k. Exact; O(n²·d); fine to ~10⁵ vectors, the correctness
  *    oracle for the scale path.
  *  - [[lshTopK]]: random-hyperplane LSH — deterministic hash-derived
  *    hyperplanes (no RNG state to ship), sign-bit bucket key, top-k
  *    within bucket. The candidate join is an equi-join on the bucket
  *    key: shuffle ∝ Σ bucket² instead of n². Probing multiple
  *    rotations recovers recall.
  *
  * Dot products use `zip_with` + `aggregate` HOFs over double-cast
  * arrays — codegen'd, left-to-right summation (deterministic and
  * bit-reproducible across partitionings).
  */
object Similarity {

  /** Left-to-right Σ a·b: custom codegen'd expression — the HOF form
    * (`aggregate(zip_with(...))`) allocates a transient array per row
    * and measured 25× slower on the all-pairs kernel. Identical
    * summation order ⇒ bit-identical doubles (same DuckDB oracle).
    */
  def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotProduct(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  private def asDouble(c: Column): Column = c.cast("array<double>")

  /** Exact top-k cosine neighbors per vector. Output is integral
    * (query id, rank, neighbor id) — rank ties are broken by neighbor
    * id so results are deterministic. Norms are computed ONCE per
    * vector before the pair join (not per pair); the division keeps
    * the exact expression shape sqrt(Σa²)·sqrt(Σb²) so results stay
    * bit-identical to the naive form.
    */
  def cosineTopK(embeddings: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    // hash-repartition the STREAM side of the nested-loop join: a
    // sub-128MB embedding table is one scan split, so the O(n²·d)
    // pair kernel — the entire cost of this labeled baseline — would
    // otherwise execute in a single task. EXPLICIT session-conf
    // width (see [[Dedup.shuffleWidth]]): a column-only repartition
    // is byte-coalesced by AQE (measured: the whole kernel ran as ONE
    // 2.5 s task), blind to the O(n²·d) work downstream.
    val base = embeddings
      .select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
      .withColumn("qn", norm(col("qv")))
      .repartition(Dedup.shuffleWidth(embeddings), col("qid"))
    val other = embeddings
      .select(col(idCol).as("nid"), asDouble(col(vecCol)).as("nv"))
      .withColumn("nn", norm(col("nv")))
    rankTopK(base.join(other, col("qid") =!= col("nid"))
      .select(col("qid"), col("nid"),
        (dot(col("qv"), col("nv")) / (col("qn") * col("nn"))).as("cos")), k)
  }

  /** The top `k` of scored (qid, nid, cos) rows per qid as (qid, rank,
    * nid): rank ties are broken by neighbor id.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("nid"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank").cast("long").as("rank"), col("nid"))
  }

  /** (id, v, n): every vector double-cast and its norm computed once,
    * materialized so the pair sides that attach it share one scan.
    */
  private def vectors(embeddings: DataFrame, idCol: String, vecCol: String): DataFrame =
    embeddings
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("n", norm(col("v")))
      .localCheckpoint(eager = false)

  /** (a, b, cos) for the id pairs of `pairs`: both sides' vectors and
    * norms attach by id from `vecs` (id, v, n), and the cosine keeps
    * the exact expression shape dot/(n·n) of [[cosineTopK]], so the
    * doubles are bit-identical to it.
    */
  private def cosines(pairs: DataFrame, a: String, b: String, vecs: DataFrame): DataFrame =
    pairs
      .join(vecs.select(col("id").as(a), col("v").as("_va"), col("n").as("_na")), Seq(a))
      .join(vecs.select(col("id").as(b), col("v").as("_vb"), col("n").as("_nb")), Seq(b))
      .select(col(a), col(b),
        (dot(col("_va"), col("_vb")) / (col("_na") * col("_nb"))).as("cos"))

  /** splitmix64 finalizer — deterministic driver-side pseudo-random
    * stream for hyperplane components (no RNG object to ship; every
    * run of every executor sees the same planes as literals). Shared
    * definition: [[graft.functions.SplitMix]].
    */
  private def mixed(seed: Long, k: Long): Long =
    graft.functions.SplitMix.mix(seed, k)

  /** One deterministic hyperplane in (-0.5, 0.5)^dim. Computed ONCE
    * driver-side and shipped as a literal array — the plane is a
    * query constant, so recomputing its components per row (the old
    * HOF form) was pure waste.
    */
  private[graft] def hyperplane(dim: Int, planeSeed: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      (math.floorMod(mixed(planeSeed.toLong, d.toLong), 100000L).toDouble / 100000.0) - 0.5
    }

  /** Bucket key: `planes` sign bits of hyperplane dot products packed
    * into a long. `rotation` seeds a different plane family (probe
    * several rotations and union for recall). Each plane dot is the
    * codegen'd [[dot]] against a `typedLit` constant array.
    */
  def lshBucket(vec: Column, planes: Int, rotation: Int, dim: Int): Column =
    (0 until planes).foldLeft(lit(0L)) { (acc, p) =>
      val planeDot = dot(vec, typedLit(hyperplane(dim, rotation * 1024 + p)))
      acc.bitwiseOR(when(planeDot > 0, shiftleft(lit(1L), p)).otherwise(lit(0L)))
    }

  /** Vector dimension as table metadata: one tiny driver-side peek.
    * None on an empty table — callers short-circuit to an empty
    * result instead of throwing NoSuchElementException.
    */
  private def dimOf(embeddings: DataFrame, vecCol: String): Option[Int] =
    embeddings.filter(col(vecCol).isNotNull) // a null first row must not NPE
      .select(size(col(vecCol)).as("d"))
      .head(1).headOption.map(_.getInt(0))

  /** The empty result of a pair builder: (id1, id2) typed as `idCol`. */
  private def noPairs(embeddings: DataFrame, idCol: String): DataFrame =
    embeddings.limit(0).select(col(idCol).as("id1"), col(idCol).as("id2"))

  /** The empty result of a top-k: (qid, rank, nid). */
  private def noTopK(embeddings: DataFrame, idCol: String): DataFrame =
    embeddings.limit(0).select(col(idCol).as("qid"), lit(0L).as("rank"),
      col(idCol).as("nid"))

  /** Unordered pairs (id1 < id2, deduped) of `vecs` (id, v) rows that
    * share an LSH bucket in any rotation: equi-join on (rot, bucket),
    * shuffle ∝ Σ bucket², never n². ONE pass computes every rotation's
    * bucket (posexplode of an array of bucket keys — pos IS the
    * rotation index), materialized once before the self-join so the
    * two join sides share it (guide §2.4). The join carries only
    * (rot, bucket, id), no vector payload.
    */
  private def bucketPairs(vecs: DataFrame, planes: Int, rotations: Int,
      dim: Int): DataFrame = {
    val bucketed = vecs
      .select(col("id"), posexplode(array((0 until rotations).map(r =>
        lshBucket(col("v"), planes, r, dim)): _*)).as(Seq("rot", "bucket")))
      .localCheckpoint(eager = false)
    bucketed.select(col("rot"), col("bucket"), col("id").as("id1"))
      .join(bucketed.select(col("rot"), col("bucket"), col("id").as("id2")),
        Seq("rot", "bucket"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Candidate pairs (id1 < id2, deduped) sharing an LSH bucket in
    * any rotation — the embedding analog of [[Dedup.lshCandidates]].
    */
  def lshPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      planes: Int = 8, rotations: Int = 4): DataFrame = {
    val dim = dimOf(embeddings, vecCol).getOrElse(return noPairs(embeddings, idCol))
    bucketPairs(embeddings.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v")),
      planes, rotations, dim)
  }

  /** Exact near-duplicate verification for a candidate pair table:
    * keep pairs with cosine ≥ threshold, emitting integral
    * `cos_millis` = floor(1000·cos) so the output hash-compares.
    * Feed [[lshPairs]] at scale; an all-pairs table only as a small
    * oracle baseline.
    */
  def cosineNearDup(embeddings: DataFrame, idCol: String, vecCol: String,
      pairs: DataFrame, threshold: Double): DataFrame =
    cosines(pairs, "id1", "id2", vectors(embeddings, idCol, vecCol))
      .filter(col("cos") >= threshold)
      .select(col("id1"), col("id2"),
        floor(col("cos") * 1000).cast("long").as("cos_millis"))

  // ------------------------------------------------------------------
  // IVF-Flat: the k-means inverted-file ANN (the second scale path the
  // build brief names next to LSH). Centroids are trained with a few
  // Lloyd iterations (deterministic hash-seeded init) and shipped as
  // LITERALS: assignment is a pure codegen'd expression — `nlist`
  // folded DotProducts + one array_sort per row, NO join and NO
  // shuffle. Candidate generation is then an equi-join on the list id
  // (shuffle ∝ Σ list², like the LSH band join), and recall is tuned
  // by probing `nprobe` lists per query.
  // ------------------------------------------------------------------

  /** Similarity-to-centroid structs, sortable by (sim, cid). */
  private def centroidStructs(vec: Column, cents: Seq[Array[Double]]): Seq[Column] =
    cents.zipWithIndex.map { case (c, i) =>
      struct(dot(vec, typedLit(c.toSeq)).as("sim"), lit(i).as("cid"))
    }

  /** Largest nlist the UNROLLED probe expression may embed: each
    * centroid becomes its own literal DotProduct in the generated
    * code, and past ~128 the method outgrows JIT limits. Beyond it
    * [[ivfProbeIds]] switches to the LOOPED form.
    */
  val LiteralNlistMax: Int = 128

  /** Unrolled probe expression: one codegen'd DotProduct per centroid
    * literal — the fastest form, bounded by [[LiteralNlistMax]].
    */
  private[graft] def ivfProbeIdsUnrolled(vec: Column, cents: Seq[Array[Double]],
      nprobe: Int): Column =
    transform(
      slice(reverse(array_sort(array(centroidStructs(vec, cents): _*))),
        1, nprobe),
      s => s.getField("cid"))

  /** Looped probe expression — the nlist > [[LiteralNlistMax]] scale
    * path (r4 verdict ask #1): ALL centroids ship as ONE
    * array-of-arrays literal object referenced by the plan (no
    * per-centroid code is generated, so JIT method-size limits don't
    * bind), and similarities come from a runtime `transform` loop
    * over it. Still entirely ROW-LOCAL: no join, no shuffle, no
    * grouped argmax — a 10⁹-vector corpus pays exactly one
    * nlist·dim·8B plan constant (~2 MB at nlist=4096, dim=64; hoist
    * into a broadcast variable behind a custom Expression if plans
    * ever need to stay lean past that). Ordering semantics are
    * IDENTICAL to the unrolled form: same struct(sim, cid) sort, same
    * DotProduct values — the equivalence is spec-pinned.
    */
  private[graft] def ivfProbeIdsLooped(vec: Column, cents: Seq[Array[Double]],
      nprobe: Int): Column = {
    val centsLit = typedLit(cents.map(_.toSeq))
    transform(
      slice(reverse(array_sort(
        transform(centsLit, (c, i) =>
          struct(dot(vec, c).as("sim"), i.cast("int").as("cid"))))),
        1, nprobe),
      s => s.getField("cid"))
  }

  /** The `nprobe` most-similar centroid ids of `vec`, best first.
    * Identical vectors always probe identical lists (same expression,
    * same input), which is what makes planted-duplicate recovery
    * exact. Dispatches on nlist: unrolled codegen ≤
    * [[LiteralNlistMax]], single-literal loop beyond (bit-equal
    * results either way).
    */
  def ivfProbeIds(vec: Column, cents: Seq[Array[Double]], nprobe: Int): Column =
    if (cents.size <= LiteralNlistMax) ivfProbeIdsUnrolled(vec, cents, nprobe)
    else ivfProbeIdsLooped(vec, cents, nprobe)

  /** Fixed-point scale for Lloyd sums: 2²⁰. Per-component
    * contributions floor to longs BEFORE summation, so accumulation
    * is integer and ORDER-FREE — the same `v_milli` discipline as
    * [[graft.functions.SeriesFunctions]] — making trained centroids
    * bit-reproducible in any engine that can sum integers. This is
    * what lets q_embed_ivf_topk be hash-checked against the DuckDB
    * oracle (previously the one declared no-oracle entry): float
    * Lloyd means depend on summation order across partitions;
    * fixed-point longs do not. The ~1e-6 quantization of the
    * centroid estimate is irrelevant to a quantizer (both engines
    * share it exactly).
    */
  val LloydScale: Double = 1048576.0

  /** Train `nlist` spherical-ish k-means centroids with `iters` Lloyd
    * rounds. Deterministic and EXTERNALLY MIRRORABLE end to end:
    * init picks the nlist vectors with the smallest
    * [[graft.functions.MirrorHash]] rank (affine over the id-string
    * fingerprint — exact DuckDB counterpart, unlike xxhash64), and
    * each round is ONE assignment pass (pure expression) + ONE
    * (cid, dim)-grouped FIXED-POINT sum ([[LloydScale]]) — both
    * map-side combined. At 100 TB train on a sample
    * (`trainFraction`): the quantizer needs representative geometry,
    * not every row. (The sample filter itself stays xxhash64 — only
    * the trainFraction=1.0 form is oracle-mirrored.)
    */
  def trainIvfCentroids(embeddings: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int = 3, trainFraction: Double = 1.0): Seq[Array[Double]] = {
    import graft.functions.{MirrorHash, TextFunctions}
    val all = embeddings.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
    // threshold on a 1e9 modulus, ceil'd and floored at 1: a coarse
    // modulus truncates tiny fractions to ZERO rows (ivfTopKAuto asks
    // for ~200·nlist/n, which underflows 1/10000 granularity at
    // n > 2e6·nlist — exactly the corpora the auto path exists for)
    val vecs = (if (trainFraction < 1.0) {
      val threshold = math.max(1L, math.ceil(trainFraction * 1000000000L).toLong)
      all.filter(pmod(xxhash64(col("id")), lit(1000000000L)) < threshold)
    } else all).persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      var cents: Seq[Array[Double]] = vecs
        .withColumn("h", MirrorHash.affine(
          TextFunctions.fingerprint(col("id").cast("string")),
          MirrorHash.a(MirrorHash.IvfSalt, 0), MirrorHash.b(MirrorHash.IvfSalt, 0)))
        .orderBy(col("h"), col("id"))
        .limit(nlist)
        .select(col("v")).collect()
        .map(_.getSeq[Double](0).toArray).toSeq
      require(cents.nonEmpty, "cannot train IVF on an empty table")
      val dim = cents.head.length
      for (_ <- 0 until iters) {
        val assigned = vecs.withColumn("cid",
          element_at(ivfProbeIds(col("v"), cents, 1), 1))
        val stats = assigned
          .select(col("cid"), posexplode(col("v")).as(Seq("pos", "x")))
          .groupBy(col("cid"), col("pos"))
          .agg(sum(floor(col("x") * lit(LloydScale)).cast("long")).as("sx"),
            count(lit(1)).as("n"))
          .collect()
        val next = cents.map(_.clone).toArray
        stats.foreach { r =>
          val cid = r.getInt(0)
          val pos = r.getInt(1)
          // one multiply + one divide, both correctly-rounded IEEE —
          // the exact expression the DuckDB mirror replays
          next(cid)(pos) = r.getLong(2).toDouble / (LloydScale * r.getLong(3))
        }
        cents = next.toSeq // empty clusters keep their previous centroid
        require(cents.forall(_.length == dim))
      }
      cents
    } finally { vecs.unpersist(); () }
  }

  /** The IVF candidate builders' precondition, checked on their
    * materialized `id` column (so the probe's scan is the one the
    * candidates reuse): throws `IllegalArgumentException` naming
    * `idCol` and one repeated id.
    */
  private def requireUniqueIds(ids: DataFrame, idCol: String): Unit = {
    val dup = ids.groupBy(col("id")).count().filter(col("count") > 1)
      .limit(1).collect()
    require(dup.isEmpty,
      s"IVF needs a unique $idCol per row; ${dup.head.get(0)} repeats")
  }

  /** Candidate pairs sharing an inverted list (top-1 assignment) —
    * the IVF analog of [[lshPairs]]: equi self-join on cid, never n².
    * Identical vectors share every centroid similarity, so exact
    * duplicates always land in the same list — planted-copy recovery
    * is provable, like the LSH path.
    *
    * Precondition, checked before any candidate is built: `idCol` is
    * unique per row. The self-join emits each pair once without a
    * `distinct` only because every id has exactly one home list.
    */
  def ivfPairs(embeddings: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 16, iters: Int = 3): DataFrame = {
    if (dimOf(embeddings, vecCol).isEmpty) return noPairs(embeddings, idCol)
    val cents = trainIvfCentroids(embeddings, idCol, vecCol, nlist, iters)
    // materialize the skinny (cid, id) assignment once: the self-join
    // below would otherwise clone the plan and run the O(n·nlist)
    // assignment expression twice (guide §2.4)
    val assigned = embeddings
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .withColumn("cid", element_at(ivfProbeIds(col("v"), cents, 1), 1))
      .select(col("cid"), col("id"))
      .localCheckpoint(eager = false)
    requireUniqueIds(assigned, idCol)
    assigned.select(col("cid"), col("id").as("id1"))
      .join(assigned.select(col("cid"), col("id").as("id2")), Seq("cid"))
      .filter(col("id1") < col("id2"))
      // no distinct: each id sits in exactly ONE list (top-1
      // assignment), so the self-join emits every ordered pair once —
      // the distinct was a full exchange of the pair set for a no-op
      .select("id1", "id2")
  }

  /** IVF-Flat top-k: queries probe their `nprobe` nearest lists, each
    * candidate is re-scored exactly, multi-probe duplicates collapse
    * on (qid, nid). Same output shape as [[cosineTopK]]/[[lshTopK]];
    * recall < 1 by construction, tuned by nlist/nprobe.
    *
    * Precondition, checked before any candidate is built: `idCol` is
    * unique per row. Candidates carry no `distinct` because a unique id
    * has one home list, and the score joins attach vectors by id.
    */
  def ivfTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, nlist: Int = 16, nprobe: Int = 4, iters: Int = 3,
      trainFraction: Double = 1.0): DataFrame = {
    if (dimOf(embeddings, vecCol).isEmpty) return noTopK(embeddings, idCol)
    val cents = trainIvfCentroids(embeddings, idCol, vecCol, nlist, iters,
      trainFraction)
    // ONE evaluation of the O(nlist·dim) probe expression per row
    // (the top-1 assignment is the probe list's head), materialized
    // once and shared by the list side, the probe side, and both
    // score-attach sides. Candidate generation joins ONLY skinny
    // (cid, id) rows; vectors are attached to the DEDUPED pair set
    // afterwards — the multi-probe exchange never carries payloads
    // (guide §8: move decisions on small rows, heavy bytes once).
    val vecs = embeddings
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      // EXPLICIT session-width repartition: the O(nlist·dim) probe
      // expression ran on the single scan split (Dedup.shuffleWidth)
      .repartition(graft.operators.Dedup.shuffleWidth(embeddings), col("id"))
      .withColumn("n", norm(col("v")))
      .withColumn("pids", ivfProbeIds(col("v"), cents, nprobe))
      .localCheckpoint(eager = false)
    requireUniqueIds(vecs, idCol)
    val lists = vecs.select(element_at(col("pids"), 1).as("cid"),
      col("id").as("nid"))
    val probes = vecs.select(col("id").as("qid"),
      explode(col("pids")).as("cid"))
    // NO distinct on the candidates: unlike the LSH paths (where
    // every shared rotation re-emits a pair), (qid, nid) is already
    // unique here — each nid has exactly ONE home list (the top-1
    // assignment) and a probe list holds nprobe DISTINCT cids, so a
    // pair arises at most once. The distinct this used to carry was a
    // full exchange + aggregate of the candidate set for a no-op
    // (guide §2.4: a `distinct` on data that is already unique).
    val cands = probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("nid"))
      .select("qid", "nid")
    rankTopK(cosines(cands, "qid", "nid", vecs), k)
  }

  /** ANN top-k via bucketed self-join over `rotations` plane families.
    * Same output shape as [[cosineTopK]]; recall < 1 by construction.
    *
    * Plan shape (the 100-TB path): candidates are [[lshPairs]]'s
    * deduped bucket pairs in both orientations; norms are computed
    * once per vector before any join (mirroring [[cosineTopK]]), and
    * no vector flows through the bucket join or its dedup exchange.
    */
  def lshTopK(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int = 8, rotations: Int = 4): DataFrame = {
    val dim = dimOf(embeddings, vecCol).getOrElse(return noTopK(embeddings, idCol))
    // (id, v, n) materialized ONCE, shared by the bucket pass and both
    // score-attach sides; vector payloads attach to the deduped pairs
    // only (guide §8). A pair's cosine is rotation-independent, so both
    // orientations of the distinct unordered pairs equal the distinct
    // ordered collisions; the orientations are disjoint (id1 < id2), so
    // their union needs no second distinct.
    val vecs = vectors(embeddings, idCol, vecCol)
    val pairs = bucketPairs(vecs, planes, rotations, dim)
    val cands = pairs.select(col("id1").as("qid"), col("id2").as("nid"))
      .unionByName(pairs.select(col("id2").as("qid"), col("id1").as("nid")))
    rankTopK(cosines(cands, "qid", "nid", vecs), k)
  }

  // --- parameter auto-scaling -------------------------------------
  //
  // A PINNED plane count makes LSH candidate volume grow
  // O(n² / 2^planes): bucket occupancy is n/2^planes, so a 10x corpus
  // costs 100x/10 = 10x MORE PER ROW (measured: q_embed_lsh_topk 56x
  // wall at a 10x corpus). The pinned-parameter queries stay — their
  // hyperplane literals are what the DuckDB oracle mirrors — but the
  // scale path is the auto variants below: one count() sizes the
  // parameter so bucket occupancy (per-query candidate work) stays
  // ~constant as the corpus grows, making total cost ~linear.

  /** planes with expected bucket occupancy ≈ targetOccupancy: the
    * smallest p with 2^p · targetOccupancy ≥ n. Clamped to [4, 24]
    * (24 ⇒ 16M buckets — past that, occupancy ≈ duplicate clusters
    * anyway). INTEGER arithmetic only — no log()/ceil() float step —
    * so the DuckDB oracle can compute the identical plane count from
    * the identical n (engine-vs-oracle agreement must not hinge on
    * two libm implementations rounding ln() the same way at power-of-
    * two boundaries).
    */
  def autoPlanes(n: Long, targetOccupancy: Int = 256): Int = {
    var p = 0
    while (p < 24 && (1L << p) * targetOccupancy < n) p += 1
    math.max(4, p)
  }

  /** IVF list count for ~targetOccupancy vectors per list, clamped to
    * [16, 4096]. Up to [[LiteralNlistMax]] the probe expression
    * unrolls centroid literals (fastest codegen); past it,
    * [[ivfProbeIdsLooped]] carries all centroids as one plan constant
    * — so the old 128-list / ~10⁶-vector design bound is gone. The
    * 4096 cap is the plan-constant budget (~2 MB at dim 64), good to
    * ~4M vectors per list-occupancy target ⇒ 10⁹⁺-vector corpora
    * with occupancy raised accordingly; past that an external ANN
    * index beats IVF-Flat regardless of engine.
    */
  def autoNlist(n: Long, targetOccupancy: Int = 1024): Int =
    math.max(16, math.min(4096,
      math.ceil(n.toDouble / targetOccupancy).toInt))

  /** Corpus size for parameter sizing: the caller's `nHint` when
    * given, else one count() job. Pass a hint whenever a cheaper
    * source exists — [[graft.table.ChronoTable.rowCount]] reads it
    * from manifest footer stats with NO scan (at 100 TB a sizing
    * count() is a full pass over the corpus before any work), and a
    * composed pipeline that already counted should not count twice.
    */
  private def sizeOf(embeddings: DataFrame, nHint: Option[Long]): Long =
    nHint.getOrElse(embeddings.count())

  /** [[lshTopK]] with planes sized from the corpus ([[autoPlanes]]). */
  def lshTopKAuto(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, rotations: Int = 4, targetOccupancy: Int = 256,
      nHint: Option[Long] = None): DataFrame =
    lshTopK(embeddings, idCol, vecCol, k,
      autoPlanes(sizeOf(embeddings, nHint), targetOccupancy), rotations)

  /** [[lshPairs]] with planes sized from the corpus. */
  def lshPairsAuto(embeddings: DataFrame, idCol: String, vecCol: String,
      rotations: Int = 4, targetOccupancy: Int = 256,
      nHint: Option[Long] = None): DataFrame =
    lshPairs(embeddings, idCol, vecCol,
      autoPlanes(sizeOf(embeddings, nHint), targetOccupancy), rotations)

  /** [[ivfTopK]] with nlist sized from the corpus and training
    * sampled to ~200 vectors per centroid (Lloyd stats need no more).
    */
  def ivfTopKAuto(embeddings: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int = 4, iters: Int = 3,
      nHint: Option[Long] = None): DataFrame = {
    val n = math.max(1L, sizeOf(embeddings, nHint))
    val nlist = autoNlist(n)
    val tf = math.min(1.0, 200.0 * nlist / n)
    ivfTopK(embeddings, idCol, vecCol, k, nlist, nprobe, iters, tf)
  }
}
