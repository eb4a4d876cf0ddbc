package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Replication for volume probes: copy a testdata SF N× with
  * per-replica key remapping, so a plan's output at ×N can be checked
  * by row arithmetic against its 1× output (`graft.Probe` holds the
  * per-query laws; SCALE_PROBE.md records the 10× sf0.1 run).
  *
  * Replication is a narrow `explode(sequence(0, N-1))` fan-out — no
  * shuffle — with every join/identity key remapped
  * `key + replica·keyOffset` (the offset a multiple of ModLcm, see
  * below — an additive remap, because a multiplicative one would
  * reshuffle the fixtures' modular entity derivations), so each
  * replica is a self-consistent closed world: join
  * cardinalities, group sizes, and pipeline outputs all scale exactly
  * ×N. (Non-key attributes are byte-identical across replicas —
  * deliberately adversarial for the dedup family, whose candidate
  * buckets grow quadratically in the clone count.)
  */
object VolumeProbe {

  /** Tables the probed queries read. */
  private[graft] val tables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Identity/join keys to remap per replica: every TPC-H `*key`
    * column plus the documents/embeddings/events ids.
    */
  private def keyCols(df: DataFrame): Seq[String] =
    df.columns.toSeq.filter(c =>
      c.endsWith("key") || c == "doc_id" || c == "vec_id" ||
        c == "event_id" || c == "user_id")

  /** Per-replica timestamp shift (events `ts`): the corpus spans ~30
    * days, so 3650 days puts each replica in its own disjoint decade —
    * time-window joins, as-of lookups, and windowed aggregations all
    * stay replica-local and scale exactly ×factor. A whole number of
    * days keeps day-truncations and window-bucket alignment identical
    * within every replica.
    */
  val TsShiftDays = 3650L

  /** lcm of every `% m` a probed query derives membership from: the
    * KfShaped fixture's entity moduli
    * (2,3,4,5,6,7,10,90,100,900,1000,4000,5000,6000,7000 → 1 260 000),
    * x8's benchmark split (`doc_id % 97`), and x9's shard (`% 8`,
    * already covered). An offset that is a multiple of this leaves
    * `key % m` unchanged, so each replica derives the same entities /
    * benchmark membership from its remapped keys and outputs scale
    * EXACTLY ×factor. (A multiplicative remap `key*factor+rep` breaks
    * this — it reshuffles modular membership and the scaling assert
    * becomes approximate.)
    */
  private val ModLcm = 1260000L * 97L

  def multiply(df: DataFrame, factor: Int, keyOffset: Long): DataFrame = {
    require(keyOffset % ModLcm == 0, s"offset must preserve mod-$ModLcm classes")
    val exploded = df.withColumn("__rep",
      explode(sequence(lit(0L), lit(factor - 1L))))
    val keyed = keyCols(df).foldLeft(exploded) { (d, c) =>
      d.withColumn(c, col(c) + col("__rep") * keyOffset)
    }
    // ts-offset replica rule: shift each replica into its own decade so
    // time-keyed plans (as-of, time-bound joins, windows) stay closed
    // per replica — works on either physical ts form (NTZ or long nanos)
    val shifted =
      if (!df.columns.contains("ts")) keyed
      else df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType => // nanos-as-long
          // Overflow guard: a ~2024 epoch base is ~1.7e18 ns and each
          // replica adds ~3.15e17 ns — factor ≳ 25 would wrap Long and
          // break the disjoint-decades closure the ×N laws depend on.
          // Fail loudly instead of corrupting replicas.
          val shiftNs = TsShiftDays * 86400L * 1000000000L
          val maxRow = df.agg(max(col("ts")).cast("long")).head
          val baseMaxTs = if (maxRow.isNullAt(0)) 0L else maxRow.getLong(0)
          // guard via DIVISION: the product form `(factor-1) * shiftNs`
          // itself wraps Long for factor >= 31 and can land small-positive,
          // silently passing the very check meant to catch the wrap
          require(baseMaxTs >= 0 &&
              (factor - 1).toLong <= (Long.MaxValue - baseMaxTs) / shiftNs,
            s"replica ts shift overflows Long: max ts $baseMaxTs + " +
              s"${factor - 1} * $shiftNs ns — lower the factor")
          keyed.withColumn("ts",
            col("ts") + col("__rep") * lit(shiftNs))
        case _ =>
          keyed.withColumn("ts",
            expr(s"timestampadd(DAY, $TsShiftDays * __rep, ts)"))
      }
    shifted.drop("__rep")
  }

  /** Smallest ModLcm multiple strictly above every key in every table —
    * replicas get disjoint key ranges while keeping modular classes.
    */
  def keyOffsetFor(spark: SparkSession, srcDir: String): Long = {
    val maxKey = tables.map { t =>
      val df = spark.read.parquet(s"$srcDir/$t.parquet")
      val ks = keyCols(df)
      if (ks.isEmpty) 0L
      else {
        val maxes = ks.map(c => max(col(c)).cast("long"))
        val top = if (maxes.size == 1) maxes.head else greatest(maxes: _*)
        df.select(top).head().getLong(0)
      }
    }.max
    (maxKey / ModLcm + 1) * ModLcm
  }
}
