package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact-threshold set-similarity join via prefix filtering (the
  * AllPairs/PPJoin family) — the EXACT counterpart of the MinHash+LSH
  * near-dup path: every pair with n-gram Jaccard ≥ t is returned, no
  * probabilistic recall, yet the candidate join is bounded the same
  * way banding bounds LSH.
  *
  * The reference dedups only on full-row equality
  * (/root/reference/jaeger_prometheus_joining/transformationscripts/
  * FileConcat.py:22); similarity joins are an engine addition for the
  * training-data tier, where "exact pairs above a Jaccard threshold"
  * is the contract audits want and LSH can only approximate.
  *
  * Prefix-filtering lemma: order every document's shingle set by one
  * GLOBAL order (here: document frequency ascending, then shingle —
  * rare tokens first, so prefixes land in the emptiest buckets). If
  * J(x, y) ≥ t then |x ∩ y| ≥ t·|x ∪ y| ≥ t·|x|, so x's matches
  * cannot all hide in its last ceil(t·|x|) − 1 positions: any
  * qualifying pair shares a token within the first
  * |x| − ceil(t·|x|) + 1 positions of BOTH sides (take the globally
  * smallest common element; were it outside either prefix, that
  * side's overlap budget is already spent). Joining prefix tokens
  * against prefix tokens is therefore COMPLETE for J ≥ t.
  *
  * Scale design: candidate shuffle ∝ Σ_token df_prefix(token)² over
  * PREFIX occurrences only — the df-ascending order concentrates
  * prefixes on rare tokens, the classic AllPairs bound — never the
  * all-pairs n². Shingles are dictionary-encoded to dense ints in the
  * global prefix order (every downstream join/sort/intersect runs on
  * ints); candidates additionally pass the PPJoin length and
  * positional filters (exact), and verification intersects
  * per-document id arrays keyed on the candidate ids — no exploded
  * re-join. The threshold is the exact rational tNum/tDen; the final
  * filter is the integer cross-multiply `inter·tDen ≥ tNum·union`, so
  * engine and oracle agree bit-for-bit.
  */
object SetSim {

  /** Dictionary-encode distinct (groupCols, id, shingle) rows to
    * (id, _sid): `_sid` is the dense rank of (stratum, shingle) in
    * the (groupCols, df asc, shingle asc) order — i.e. the prefix
    * lemma's GLOBAL order itself, packed into one int (guide §2.3:
    * narrower types — every downstream join/sort/intersect runs on
    * ints instead of shingle strings). Because `_sid` is unique per
    * (stratum, shingle), equality on `_sid` alone both matches
    * shingles AND scopes strata, and ordering by `_sid` within a
    * document (all of whose rows share one stratum) reproduces the
    * per-stratum (df, shingle) order exactly.
    *
    * The rank is one window sort of the VOCABULARY (distinct
    * (stratum, shingle) rows — orders of magnitude below the exploded
    * shingle stream), single-partition by design.
    */
  private def encode(sh: DataFrame, idCol: String,
      groupCols: Seq[String]): DataFrame = {
    val gkey = groupCols :+ "shingle"
    val dict = sh.groupBy(gkey.map(col): _*).agg(count(lit(1)).as("_df"))
      .withColumn("_sid", row_number().over(
        Window.partitionBy(lit(1)).orderBy(
          (groupCols.map(col) :+ col("_df") :+ col("shingle")).map(_.asc): _*)))
    sh.join(dict, gkey).select(col(idCol), col("_sid"))
  }

  /** Candidate pairs from an encoded (id, _sid) frame — see
    * [[prefixCandidates]] for the contract. `enc` should be persisted
    * (it feeds the size/rank windows and, via prefix, both self-join
    * sides).
    */
  private def candidatesFromEncoded(enc: DataFrame, idCol: String,
      tNum: Int, tDen: Int): DataFrame = {
    val wSz = Window.partitionBy(col(idCol))
    val wRk = Window.partitionBy(col(idCol)).orderBy(col("_sid").asc)
    // prefix length = sz − ceil(t·sz) + 1; ceil via floor((num·sz +
    // den − 1)/den) — exact below 2⁵², identical in the SQL mirror
    val ceilT = floor((lit(tNum.toLong) * col("_sz") + lit(tDen.toLong - 1))
      .cast("double") / lit(tDen.toDouble)).cast("long")
    // _sz and _rk ride along for the PPJoin length + positional
    // filters below; the prefix table is persisted so the self-join's
    // two sides share one computation of the window chain. EXPLICIT
    // session-width repartition on the document id: the windows' own
    // ENSURE_REQUIREMENTS exchange is byte-coalesced by AQE (the
    // skinny (id, _sid) int rows compress to ~1 task's worth), which
    // serialized both window sorts (see [[Dedup.shuffleWidth]]).
    val prefix = enc
      .repartition(Dedup.shuffleWidth(enc), col(idCol))
      .withColumn("_sz", count(lit(1)).over(wSz))
      .withColumn("_rk", row_number().over(wRk))
      .filter(col("_rk") <= col("_sz") - ceilT + 1)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val left = prefix.select(col("_sid"), col(idCol).as("id1"),
      col("_sz").as("_sz1"), col("_rk").as("_rk1"))
    val right = prefix.select(col("_sid"), col(idCol).as("id2"),
      col("_sz").as("_sz2"), col("_rk").as("_rk2"))
    // PPJoin filters — both EXACT (completeness preserved), both pure
    // PER-ROW expressions applied before the pair dedup; they only
    // drop candidates the Jaccard verify would reject anyway (guide
    // §3.2: shrink the join's big side early):
    //  - length filter: J ≥ t ⇒ t·max(sz1,sz2) ≤ |x∩y| ≤ min(sz1,sz2);
    //  - positional filter: both sides order shingles by the ONE
    //    global _sid order, so a collision at (rk1, rk2) bounds the
    //    overlap: |x∩y| ≤ min(sz1−rk1, sz2−rk2) + 1; rows whose bound
    //    cannot reach J ≥ t ⇔ inter·(tDen+tNum) ≥ tNum·(sz1+sz2) die
    //    BEFORE the dedup exchange. Per-row is exact: a pair survives
    //    iff its best (earliest-rank) collision row survives — the
    //    per-pair max-aggregate formulation keeps exactly the same
    //    pair set while hashing every dropped row through the
    //    aggregate first (replacing it was measured ~15% faster, and
    //    the dedup shrinks to a plain distinct on the id pair).
    left.join(right, Seq("_sid"))
      .filter(col("id1") < col("id2"))
      .filter(greatest(col("_sz1"), col("_sz2")) * lit(tNum.toLong) <=
        least(col("_sz1"), col("_sz2")) * lit(tDen.toLong))
      .filter((least(col("_sz1") - col("_rk1"), col("_sz2") - col("_rk2")) + 1) *
        lit((tDen + tNum).toLong) >=
        lit(tNum.toLong) * (col("_sz1") + col("_sz2")))
      .select("id1", "id2")
      .distinct()
  }

  /** Candidate pairs complete for Jaccard ≥ tNum/tDen: ids sharing a
    * shingle within both prefixes. `shingles` must be DISTINCT
    * (id, shingle) rows — [[Dedup.charShingles]] output shape —
    * carrying `groupCols` (constant per id) when the join is scoped.
    *
    * `groupCols` scopes the join WITHIN strata (e.g. (lang, source)):
    * candidates never cross a group boundary, and document frequency
    * is computed per group (the lemma's global order holds per group,
    * and within-group df is what makes a token "rare" there). Scoping
    * is also the DENSITY rail: prefix filtering prunes in proportion
    * to df skew, so a corpus with an adversarially uniform, tiny
    * shingle vocabulary (every token df ≈ n/vocab) leaves ANY exact
    * algorithm near-quadratic — real dedup pipelines scope by
    * language/source/domain for exactly this reason.
    */
  def prefixCandidates(shingles: DataFrame, idCol: String,
      tNum: Int, tDen: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(tNum >= 1 && tNum <= tDen, s"threshold must be in (0, 1]: $tNum/$tDen")
    val sh = Dedup.materializeOnce(shingles)
    candidatesFromEncoded(
      Dedup.materializeOnce(encode(sh, idCol, groupCols)),
      idCol, tNum, tDen)
  }

  /** Exact set-similarity join: ALL pairs (id1 < id2) whose shingle
    * Jaccard ≥ tNum/tDen — within a `groupCols` stratum when scoped —
    * with their integral (inter_sz, union_sz). Candidates from the
    * prefix lemma (complete), verification on per-document _sid
    * arrays.
    */
  def similarityJoin(shingles: DataFrame, idCol: String,
      tNum: Int, tDen: Int, groupCols: Seq[String] = Nil): DataFrame = {
    require(tNum >= 1 && tNum <= tDen, s"threshold must be in (0, 1]: $tNum/$tDen")
    // ONE shingle materialization feeds the dictionary aggregate and
    // the encode join; ONE encoded materialization feeds candidate
    // generation and verification (guide §2.4)
    val sh = Dedup.materializeOnce(shingles)
    val enc = Dedup.materializeOnce(encode(sh, idCol, groupCols))
    val cands = candidatesFromEncoded(enc, idCol, tNum, tDen)
    // Verification on per-document _sid ARRAYS, not an exploded
    // re-join: jaccardCounts explodes each candidate pair back into
    // Σ_pairs sz(id1) shingle rows and shuffles them twice (measured
    // 26M rows / 9.4 s of the sf0.1 setsim query for 130K candidates
    // of ~200 shingles each). Grouping the encoded ints to one array
    // row per document turns the verify into two skinny equi-joins
    // keyed on the candidate ids plus a per-row primitive-typed
    // array_intersect — shuffle ∝ candidates·avg_sz INTS moved once
    // (guide §8, §2.3), no exploded intermediate. Counts are
    // identical: the encoding is a bijection on (stratum, shingle)
    // and candidates never cross strata.
    val docArr = enc
      .groupBy(col(idCol))
      .agg(collect_list(col("_sid")).as("_arr"), count(lit(1)).as("_sz"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK) // feeds both pair sides
    cands
      .join(docArr.select(col(idCol).as("id1"), col("_arr").as("_a1"),
        col("_sz").as("_sza")), "id1")
      .join(docArr.select(col(idCol).as("id2"), col("_arr").as("_a2"),
        col("_sz").as("_szb")), "id2")
      .withColumn("inter_sz",
        size(array_intersect(col("_a1"), col("_a2"))).cast("long"))
      .select(col("id1"), col("id2"), col("inter_sz"),
        (col("_sza") + col("_szb") - col("inter_sz")).as("union_sz"))
      .filter(col("inter_sz") * lit(tDen.toLong) >=
        lit(tNum.toLong) * col("union_sz"))
  }

  /** Edit-distance near-duplicate verification over a candidate pair
    * table: keep pairs whose Levenshtein distance is at most
    * `maxDistPctNum/maxDistPctDen` of the LONGER text (a relative
    * bound — absolute thresholds misread long documents). The
    * `|len1 − len2|` length prefilter is semantically redundant
    * (levenshtein ≥ length difference) but prunes candidates BEFORE
    * the O(len²) distance kernel runs — at 100 TB most LSH candidates
    * die on this comparison alone. Feed [[prefixCandidates]] /
    * [[Dedup.lshCandidates]]; never all pairs.
    *
    * Levenshtein is the unit-cost DP both engines implement exactly
    * (Spark `levenshtein` == DuckDB `levenshtein`), so the output is
    * hash-comparable with no fixed-point dance.
    */
  def editDistanceNearDup(docs: DataFrame, idCol: String, textCol: String,
      pairs: DataFrame, maxDistPctNum: Int, maxDistPctDen: Int): DataFrame = {
    require(maxDistPctNum >= 0 && maxDistPctDen >= 1,
      s"bad relative bound: $maxDistPctNum/$maxDistPctDen")
    // one materialization: the (id, text) frame feeds both pair sides
    val t = docs.select(col(idCol).as("_id"), col(textCol).as("_t"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bound = (l1: Column, l2: Column) =>
      lit(maxDistPctNum.toLong) * greatest(l1, l2)
    pairs
      .join(t.select(col("_id").as("id1"), col("_t").as("t1")), "id1")
      .join(t.select(col("_id").as("id2"), col("_t").as("t2")), "id2")
      .withColumn("_l1", length(col("t1")).cast("long"))
      .withColumn("_l2", length(col("t2")).cast("long"))
      .filter(abs(col("_l1") - col("_l2")) * lit(maxDistPctDen.toLong) <=
        bound(col("_l1"), col("_l2")))
      .withColumn("edit_dist", levenshtein(col("t1"), col("t2")).cast("long"))
      .filter(col("edit_dist") * lit(maxDistPctDen.toLong) <=
        bound(col("_l1"), col("_l2")))
      .select(col("id1"), col("id2"), col("edit_dist"))
  }
}
