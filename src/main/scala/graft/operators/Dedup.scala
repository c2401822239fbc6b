package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline:
  * exact (hash-groupBy), drop-all-duplicates (the reference's
  * `unique(keep='none')`, /root/reference/jaeger_prometheus_joining/
  * transformationscripts/FileConcat.py:22), MinHash+LSH and SimHash
  * near-dup, and exact n-gram Jaccard verification.
  *
  * Scale design: every operator is a shuffle-on-key plan — no
  * driver-side collection anywhere. MinHash signatures are computed
  * in ONE pass over exploded shingles (k min-aggregates, map-side
  * combined); LSH candidate generation is an equi self-join on
  * (band_idx, band_hash) — the classic banding trick, so the join
  * key cardinality (not O(n²) pairs) bounds the shuffle. At 100 TB,
  * band tables are orders of magnitude smaller than a cross join and
  * AQE handles residual bucket skew.
  */
object Dedup {

  /** Share a subtree consumed by several downstream subplans without
    * recomputing it per consumer: lazy `persist(MEMORY_AND_DISK)`,
    * NOT `localCheckpoint` — an eager checkpoint inserts a
    * synchronous job barrier per shared frame, serializing a query
    * into a chain of small jobs and losing the stage overlap that
    * keeps cores busy (measured: the checkpointed setsim chain ran
    * ~1.5× SLOWER at sf0.1 than recomputing). Persist adds no job:
    * the first stage that touches the frame computes and caches it,
    * later consumers read the cache. The iterative operators' shared
    * [[FixPoint]] driver still uses localCheckpoint, where truncating
    * per-round LINEAGE is the point. No-op when the caller
    * already cached or checkpointed the frame.
    */
  private[graft] def materializeOnce(df: DataFrame): DataFrame =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE ||
        org.apache.spark.sql.GraftShims.checkpointedRdd(df).isDefined) df
    else df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** The session's configured shuffle width — the EXPLICIT partition
    * count for repartitions that feed AMPLIFIED per-row work (shingle
    * explodes, O(n²·d) pair kernels, bucket fan-outs). A column-only
    * `repartition(col)` is still coalesced by AQE on COMPRESSED
    * SHUFFLE BYTES (measured: a 2 MB shuffle ran its downstream
    * explode+agg in 2 tasks on a 32-core box), which is blind to the
    * downstream amplification; an explicit count is respected
    * (REPARTITION_BY_NUM). Reads `spark.sql.shuffle.partitions` from
    * the live session — the cluster's tuned value in production, no
    * local constant (guide §2.5).
    */
  private[graft] def shuffleWidth(df: DataFrame): Int =
    df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

  /** Exact dedup, keep-first pinned by an explicit order column —
    * never an unpinned dropDuplicates (SURVEY.md §7 hard parts:
    * nondeterministic keep-first is a bug, not a semantics).
    *
    * `tiebreaks` pins the survivor when two rows tie on (key, order):
    * row_number over a tied ordering keeps an ARBITRARY row otherwise
    * (run-to-run nondeterministic across partitionings). Callers with
    * payload columns that can differ at equal order MUST pass
    * tiebreaks (e.g. a hash over the payload — see
    * [[rollup.Pipeline]]'s in-batch dedupe).
    */
  def exactKeepFirst(df: DataFrame, keyCols: Seq[String], orderCol: String,
      tiebreaks: org.apache.spark.sql.Column*): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(orderCol) +: tiebreaks: _*)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Reference A8 semantics: remove EVERY member of any duplicated
    * group (keep='none'), not keep-one.
    */
  def dropAllDuplicates(df: DataFrame, keyCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
    df.withColumn("_cnt", count(lit(1)).over(w))
      .filter(col("_cnt") === 1)
      .drop("_cnt")
  }

  /** Character n-gram shingles, one row per (id, shingle), distinct.
    * Pure HOF projection (sequence + transform + explode) — codegen'd,
    * no UDF. `keepCols` carries per-document attributes (e.g. the
    * stratum keys a grouped similarity join scopes by) through the
    * explode; they must be constant per id.
    *
    * The dedup key includes the id, so "distinct" is purely
    * WITHIN-document — done by `array_distinct` on the substring
    * array BEFORE the explode (same row set), not a `.distinct()`
    * after it: the post-explode distinct hash-exchanged the entire
    * |text|·n exploded stream (the widest intermediate of the whole
    * dedup family) just to drop in-row duplicates (guide §2.1).
    */
  def charShingles(df: DataFrame, idCol: String, textCol: String, n: Int,
      keepCols: Seq[String] = Nil): DataFrame =
    shingled(df, idCol, textCol, n, keepCols)(array_distinct)

  /** [[charShingles]] WITHOUT the distinct — for duplicate-insensitive
    * consumers only (the min aggregates of [[minHashSignatures]]:
    * min over the multiset equals min over the set). Skipping the
    * distinct removes a full exchange of the exploded shingle stream
    * (guide §2.4) — the map-side partial min-agg reduces the
    * duplicated rows to (id × k) minima before anything shuffles.
    */
  def charShinglesRaw(df: DataFrame, idCol: String, textCol: String, n: Int,
      keepCols: Seq[String] = Nil): DataFrame =
    shingled(df, idCol, textCol, n, keepCols)(identity)

  /** The one shingle body: explode `arr` of the text's n-gram array.
    * It hash-repartitions BEFORE the explode: document corpora arrive
    * as few-hundred-KB..MB parquet files, i.e. ONE scan split under
    * spark.sql.files.maxPartitionBytes — so the explode (|text|·n
    * substrings per doc, the operator's heaviest map work) would run
    * in a single task while every other core idles. The exchange
    * moves only the raw (id, text) rows once, sized by
    * spark.sql.shuffle.partitions (scale-adaptive: session conf, not a
    * constant; EXPLICIT width — see [[shuffleWidth]]).
    */
  private def shingled(df: DataFrame, idCol: String, textCol: String, n: Int,
      keepCols: Seq[String])(arr: Column => Column): DataFrame =
    df.repartition(shuffleWidth(df), col(idCol))
      .select(keepCols.map(col) :+ col(idCol) :+
        explode(arr(transform(
          sequence(lit(1), greatest(length(col(textCol)) - (n - 1), lit(1))),
          i => col(textCol).substr(i, lit(n))))).as("shingle"): _*)

  /** MinHash signature: for each id, k minima of a universal affine
    * family over the shingle's [[graft.functions.TextFunctions]]
    * fingerprint — one grouped pass, k min-aggregates (map-side
    * combined). The [[graft.functions.MirrorHash]] family replaces
    * seeded murmur3 so the signature (and everything downstream of
    * it: bands, candidates, Jaccard verification) has an exact DuckDB
    * mirror and hash-checks against the oracle.
    */
  def minHashSignatures(shingles: DataFrame, idCol: String, k: Int): DataFrame = {
    import graft.functions.{MirrorHash, TextFunctions}
    val withFp = shingles.withColumn("_fp",
      TextFunctions.fingerprint(col("shingle")))
    val mins = (0 until k).map(i =>
      min(MirrorHash.affine(col("_fp"),
        MirrorHash.a(MirrorHash.MinHashSalt, i),
        MirrorHash.b(MirrorHash.MinHashSalt, i))).as(s"mh_$i"))
    withFp.groupBy(col(idCol)).agg(mins.head, mins.tail: _*)
  }

  /** LSH banding: split the k-wide signature into `bands` bands of
    * k/bands rows each; band key = polynomial combine of the band's
    * minhashes ([[graft.functions.MirrorHash.bandCombine]] — DuckDB-
    * mirrorable, unlike murmur3). Returns (id, band_idx, band_hash).
    */
  def lshBands(signatures: DataFrame, idCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k not divisible by bands=$bands")
    val rows = k / bands
    // ONE pass + explode, not a bands-way unionByName of selects: a
    // union CLONES the signature plan per band, so the whole upstream
    // chain (shingle explode+distinct, fingerprint, k min-aggregates)
    // was computed `bands` times per evaluation (guide §2.4: remove
    // shuffles/passes outright). Row set is identical — (id, band_idx,
    // band_hash) with band_idx = array position.
    val bandStructs = (0 until bands).map { b =>
      val cols = (b * rows until (b + 1) * rows).map(i => col(s"mh_$i"))
      struct(lit(b).as("band_idx"),
        graft.functions.MirrorHash.bandCombine(cols).as("band_hash"))
    }
    signatures
      .select(col(idCol), explode(array(bandStructs: _*)).as("_band"))
      .select(col(idCol), col("_band.band_idx").as("band_idx"),
        col("_band.band_hash").as("band_hash"))
  }

  /** Candidate pairs: ids sharing ≥1 LSH band — [[lshCandidatesGrouped]]
    * with no strata.
    */
  def lshCandidates(bandsDf: DataFrame, idCol: String): DataFrame =
    bandPairs(bandsDf, idCol, Nil)

  /** [[lshCandidates]] scoped WITHIN strata: `groups` maps each id to
    * its `groupCols` values (e.g. (lang, source)), which join into
    * the band key so candidates never cross a stratum. This is the
    * density rail for corpora whose background similarity is high —
    * on a tiny shared shingle vocabulary, band collisions between
    * genuinely-dissimilar documents grow with the square of the
    * UNSCOPED population (the collision probability is a property of
    * the corpus, not the hash family: re-drawing the minhash family
    * moves the count around but not its order of magnitude). Real
    * dedup pipelines scope by language/source/domain for the same
    * reason the exact set-similarity join does.
    */
  def lshCandidatesGrouped(bandsDf: DataFrame, idCol: String,
      groups: DataFrame, groupCols: Seq[String]): DataFrame =
    bandPairs(bandsDf.join(groups, Seq(idCol)), idCol, groupCols)

  /** The one band self-join: equi-join on (`groupCols`, band_idx,
    * band_hash); id1 < id2 halves the pairs; distinct dedups
    * multi-band hits. The keyed band table is materialized ONCE
    * before the join: the join clones its input plan, so the minhash
    * chain behind it was otherwise computed twice (guide §2.4). That
    * frame is (keys, id) — O(n·bands) skinny rows.
    */
  private def bandPairs(keyed: DataFrame, idCol: String, groupCols: Seq[String]): DataFrame = {
    val bands = materializeOnce(keyed)
    val key = groupCols ++ Seq("band_idx", "band_hash")
    def side(id: String) = bands.select(key.map(col) :+ col(idCol).as(id): _*)
    side("id1").join(side("id2"), key)
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** Exact n-gram Jaccard for a pair table: returns integral
    * (intersection, union) sizes so downstream thresholds stay exact.
    * The shingle join is key-partitioned; candidates (from LSH) keep
    * it linear-ish instead of all-pairs.
    */
  def jaccardCounts(pairs: DataFrame, shingles: DataFrame, idCol: String): DataFrame = {
    // Per-document ARRAYS, not an exploded pair re-join: the old shape
    // (pairs ⋈ shingles(id1) ⋈ shingles(id2) → grouped count → left
    // join repair → two size joins) exploded every pair into
    // Σ_pairs sz(id1) shingle rows, recomputed `shingles` three times
    // (s1, s2, sizes), and shuffled the exploded stream twice. One
    // groupBy packs each document's distinct shingles into an array;
    // two equi-joins attach the arrays to the pairs; a per-row
    // array_intersect counts the overlap (guide §8: move decisions on
    // candidate ids, payloads attached once). Semantics are identical
    // incl. inter_sz = 0 pairs (arrays intersect to empty, and every
    // id in a charShingles-derived frame has ≥1 shingle row, matching
    // the old inner size joins).
    // deliberately NOT persisted: a cache is a materialization point
    // that would force collect_list even for consumers that prune it
    // (an un-filtered count() of this output needs only the sizes —
    // the frozen Bench action — and Catalyst prunes _arr out of both
    // aggregate clones when nothing downstream reads inter_sz). When
    // arrays ARE consumed, the two clones run concurrently.
    val docArr = shingles
      .groupBy(col(idCol))
      .agg(collect_list(col("shingle")).as("_arr"), count(lit(1)).as("_sz"))
    pairs
      .join(docArr.select(col(idCol).as("id1"), col("_arr").as("_a1"),
        col("_sz").as("_sza")), "id1")
      .join(docArr.select(col(idCol).as("id2"), col("_arr").as("_a2"),
        col("_sz").as("_szb")), "id2")
      .withColumn("inter_sz",
        size(array_intersect(col("_a1"), col("_a2"))).cast("long"))
      .select(col("id1"), col("id2"), col("inter_sz"),
        (col("_sza") + col("_szb") - col("inter_sz")).as("union_sz"))
  }

  /** 64-bit SimHash over whitespace tokens: bit b of the output is
    * the sign of Σ_tokens sign_b(token), where sign_b is the parity
    * of the b-th [[graft.functions.MirrorHash]] affine transform of
    * the token's fingerprint — 64 independent Carter–Wegman sign
    * hashes (the classic SimHash construction; xx64 bit-slicing had
    * no DuckDB mirror, this does). Computed as 64 conditional sums in
    * one grouped pass, packed with a fold — no UDF, fully codegen'd.
    * Equal tokens share every sign (same fingerprint), which is
    * exactly SimHash's locality property; the 31-bit fingerprint
    * domain merges the rare colliding token pair, a negligible
    * perturbation of the bit sums.
    */
  def simHash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    import graft.functions.{MirrorHash, TextFunctions}
    // repartition before the explode: sub-128MB inputs are one scan
    // split, so the per-row heavy map work would run single-task
    // (EXPLICIT session-conf width — see [[shuffleWidth]])
    val toks = df.repartition(shuffleWidth(df), col(idCol))
      .select(col(idCol),
        explode(split(trim(col(textCol)), "\\s+")).as("tok"))
      .withColumn("_fp", TextFunctions.fingerprint(col("tok")))
    val bitSums = (0 until 64).map { b =>
      sum(when(MirrorHash.affine(col("_fp"),
        MirrorHash.a(MirrorHash.SimHashSalt, b),
        MirrorHash.b(MirrorHash.SimHashSalt, b)) % 2 === 1, 1).otherwise(-1))
        .as(s"bs_$b")
    }
    val summed = toks.groupBy(col(idCol)).agg(bitSums.head, bitSums.tail: _*)
    val packed = (0 until 64).foldLeft(lit(0L)) { (acc, b) =>
      acc.bitwiseOR(
        when(col(s"bs_$b") > 0, shiftleft(lit(1L), b)).otherwise(lit(0L)))
    }
    summed.select(col(idCol), packed.as("simhash"))
  }

  /** Hamming distance between two packed 64-bit simhashes. */
  def hamming(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    bit_count(a.bitwiseXOR(b))
}
