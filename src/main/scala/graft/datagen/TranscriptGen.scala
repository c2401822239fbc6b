package graft.datagen

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

import graft.model.Turn

/** Deterministic synthetic transcript sources.
  *
  * Two flavors:
  *
  *  1. [[TranscriptGen.generate]] — a seeded generator used by tests and
  *     the bench. Fully deterministic (per-conversation RNG seeded from
  *     (seed, convIdx); no wall-clock), distributed via `spark.range`
  *     + typed `flatMap`, so it scales to any row count without a
  *     driver-side loop. Heavy-tailed conversation sizes provide the
  *     skew the north rule's salting must handle.
  *
  *  2. [[TranscriptGen.fromEvents]] — a *pure relational* derivation of
  *     the transcript shape from the driver-provided `events` parquet,
  *     expressible identically in Spark and ANSI SQL (DuckDB). This is
  *     what ties every `SparkEntry.queries` entry to a DuckDB oracle:
  *     the oracle SQL inlines [[TranscriptGen.eventsToTurnsSql]] as a CTE.
  */
object TranscriptGen {

  // ---------------------------------------------------------------------
  // 1. Seeded generator (tests + bench)
  // ---------------------------------------------------------------------

  /** Fixed epoch base: 2024-01-01T00:00:00Z, microseconds. */
  val BaseMicros: Long = 1704067200000000L

  private val roles = Array("user", "assistant", "tool")
  private val tools = Array("search", "browse", "code_run", "calc",
    "db_query", "fetch", "summarize", "translate")
  private val words = Array("alpha", "bravo", "charlie", "delta", "echo",
    "foxtrot", "golf", "hotel", "india", "juliet", "kilo", "lima", "mike",
    "november", "oscar", "papa", "quebec", "romeo", "sierra", "tango")

  /** Number of turns for conversation i: heavy-tailed. Conversation 0 is
    * deliberately "hot" (≈ half of all rows when hotShare=0.5) to
    * exercise skew handling (FIXTURES.md §4).
    */
  def turnsFor(convIdx: Long, nConvs: Long, avgTurns: Int, hotShare: Double): Int = {
    val rng = new scala.util.Random(mix(9817L, convIdx))
    if (convIdx == 0 && hotShare > 0) {
      // others contribute ≈ nConvs·avgTurns·1.3 rows empirically (the
      // lognormal mean is ~1.3×avg); size conv 0 so it holds ≈hotShare
      // of ALL rows: hot = others · hotShare / (1 − hotShare)
      val othersEst = nConvs * avgTurns * 1.3
      math.max(1, (othersEst * hotShare / (1.0 - hotShare)).toInt)
    } else {
      // log-normal-ish: mostly small, occasional long conversations
      val u = rng.nextDouble()
      val base = math.max(1, (avgTurns * math.exp(1.2 * rng.nextGaussian())).toInt)
      if (u < 0.9) math.min(base, avgTurns * 3) else base
    }
  }

  private def mix(seed: Long, k: Long): Long = {
    var h = seed ^ (k * 0x9E3779B97F4A7C15L)
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    h ^ (h >>> 31)
  }

  /** Generate a deterministic transcript Dataset.
    *
    * @param nConvs   number of conversations
    * @param avgTurns average turns per (non-hot) conversation
    * @param seed     RNG seed; same seed ⇒ identical rows
    * @param hotShare fraction of all rows concentrated in conv 0 (skew);
    *                 0 disables the hot conversation
    * @param gapEvery insert a multi-bucket time gap every N turns (for
    *                 gap-fill tests); 0 disables
    * @param maxDeltaSecs upper bound on the seeded inter-turn delta; the
    *                 default (120) gives ~1 turn/minute (sparse series);
    *                 small values give dense buckets where map-side
    *                 partial aggregation actually combines
    * @param partitions number of generator tasks (parallel write width)
    */
  def generate(
      spark: SparkSession,
      nConvs: Long,
      avgTurns: Int = 40,
      seed: Long = 42L,
      hotShare: Double = 0.0,
      gapEvery: Int = 0,
      maxDeltaSecs: Int = 120,
      partitions: Int = 64): Dataset[Turn] = {
    import spark.implicits._
    val nC = nConvs
    val avg = avgTurns
    val sd = seed
    val hs = hotShare
    val ge = gapEvery
    val maxD = maxDeltaSecs
    spark.range(0, nC, 1, math.min(nC, partitions.toLong).toInt).as[Long].flatMap { ci =>
      val rng = new scala.util.Random(mix(sd, ci))
      val n = turnsFor(ci, nC, avg, hs)
      val convId = f"conv-$ci%06d"
      var tsMicros = BaseMicros + (mix(sd + 1, ci) % (86400L * 1000000L)).abs
      (0 until n).iterator.map { ti =>
        val role = roles(ti % 3)
        val nWords = 1 + rng.nextInt(24)
        val text = (0 until nWords).map(_ => words(rng.nextInt(words.length))).mkString(" ")
        val tool = if (role == "tool") Some(tools(rng.nextInt(tools.length))) else None
        // monotone non-decreasing within conversation, seconds..minutes apart
        val delta = (5 + rng.nextInt(maxD)).toLong * 1000000L
        val gap = if (ge > 0 && ti > 0 && ti % ge == 0)
          (5L + rng.nextInt(10)) * 60L * 1000000L else 0L
        tsMicros += delta + gap
        Turn(convId, ti, role, text, tool,
          java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(tsMicros * 1000L)))
      }
    }
  }

  // ---------------------------------------------------------------------
  // 2. Relational derivation from the driver's events table
  // ---------------------------------------------------------------------

  /** Spark-side: derive the transcript table from `events.parquet`.
    * Must stay semantically identical to [[eventsToTurnsSql]].
    */
  def fromEvents(spark: SparkSession, sfDir: String): DataFrame = {
    // AQE's byte-coalesced width, not an explicit one
    // (Dedup.shuffleWidth): this derivation is too thin to pay for
    // wider scheduling across the whole downstream chain
    val ev = spark.read.parquet(s"$sfDir/events.parquet")
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    ev.select(
        concat(lit("conv-"), lpad(col("user_id").cast("string"), 6, "0")).as("conv_id"),
        (row_number().over(w) - 1).as("turn_idx"),
        when(col("event_type").isin("click", "view"), "user")
          .when(col("event_type").isin("purchase", "signup"), "assistant")
          .otherwise("tool").as("role"),
        concat(col("event_type"), lit(":"), col("props")).as("text"),
        when(col("event_type") === "error",
          element_at(
            typedLit(Seq("search", "browse", "code_run", "calc",
              "db_query", "fetch", "summarize", "translate")),
            (pmod(col("event_id"), lit(8)) + 1).cast("int")))
          .otherwise(lit(null).cast("string")).as("tool"),
        col("ts"))
  }

  /** DuckDB CTE body producing the same rows as [[fromEvents]].
    * Inlined into every oracle SQL as `WITH turns AS (<this>)`.
    */
  val eventsToTurnsSql: String =
    """SELECT
      |  'conv-' || lpad(CAST(user_id AS VARCHAR), 6, '0') AS conv_id,
      |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) - 1 AS INT) AS turn_idx,
      |  CASE WHEN event_type IN ('click','view') THEN 'user'
      |       WHEN event_type IN ('purchase','signup') THEN 'assistant'
      |       ELSE 'tool' END AS role,
      |  event_type || ':' || props AS text,
      |  CASE WHEN event_type = 'error' THEN
      |    (['search','browse','code_run','calc','db_query','fetch','summarize','translate'])[CAST(event_id % 8 AS INT) + 1]
      |  ELSE NULL END AS tool,
      |  ts
      |FROM events""".stripMargin

  /** Wrap a query body with the turns CTE for the DuckDB oracle.
    * A body that starts with its own WITH clause is spliced into a
    * single combined WITH (SQL allows only one per query level).
    */
  def withTurns(body: String): String = {
    val trimmed = body.trim
    if (trimmed.toUpperCase.startsWith("WITH "))
      s"WITH turns AS (\n$eventsToTurnsSql\n),\n${trimmed.drop(5)}"
    else
      s"WITH turns AS (\n$eventsToTurnsSql\n)\n$trimmed"
  }
}
