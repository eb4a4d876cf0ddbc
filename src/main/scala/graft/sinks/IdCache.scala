package graft.sinks

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Parquet-backed persistent id cache — the LoadStage `cache_dir`
  * parity (etl/ingest.py:513, backed by kf-lib-data-ingest's on-disk
  * target-id memo): resolved (natural key → server id) pairs survive
  * across runs, so a re-run only asks the target service about keys it
  * has never resolved before.
  *
  * Layout: one parquet directory per entity class under `dir`,
  * append-only. A refresh APPENDS the newly fetched pairs instead of
  * rewriting the store — at 100 TB-scale id maps a full rewrite per
  * entity stage would dominate the load, while an append is one small
  * parquet batch; readers dedup by key (resolved ids are stable, so any
  * surviving duplicate is equal and the pick is immaterial). Compaction
  * = read + dropDuplicates + write-elsewhere + [[DirSwap]] over
  * (`<class>`, `<class>__compacting`, `<class>__retired`), when batch
  * count grows — deliberately out of band, like any log-structured store.
  *
  * Unresolved keys are NOT negatively cached, matching the reference:
  * a key the server didn't know yesterday may exist today (another
  * loader created it), so misses re-query every run.
  */
final class IdCache(spark: SparkSession, dir: String) {

  private val schema = StructType(Seq(
    StructField("key", StringType), StructField("resolved_id", StringType)))

  private def path(entityClass: String) = s"$dir/$entityClass"

  private def swap(entityClass: String): DirSwap =
    DirSwap(spark.sparkContext.hadoopConfiguration, path(entityClass),
      "__compacting", "__retired")

  /** Cached (key, resolved_id) pairs for an entity class; empty frame
    * when the class has never been cached. Deduped by key. A MISSING
    * store is first restored by [[DirSwap.recover]] from what a crashed
    * [[compact]] left behind; a reader never deletes anything while the
    * live store exists. A reader that lands between compact()'s two
    * renames rolls back to `__retired`, which holds the same
    * deduplicated (key → id) map as the snapshot, and the compaction
    * that lost that race still succeeds.
    */
  def read(entityClass: String): DataFrame =
    if (swap(entityClass).recover())
      spark.read.schema(schema).parquet(path(entityClass)).dropDuplicates("key")
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  /** Append newly resolved pairs for an entity class. */
  def append(entityClass: String, resolved: DataFrame): Unit =
    resolved.select(col("key").cast("string"), col("resolved_id").cast("string"))
      .write.mode("append").parquet(path(entityClass))

  /** Compact one entity class's append-only store: rewrite the deduped
    * pairs as one snapshot in `__compacting` and swap it in by
    * [[DirSwap.publish]] (live → `__retired`, snapshot → live, drop
    * `__retired`), after [[DirSwap.recover]] has repaired any earlier
    * crash. Out-of-band maintenance for when the batch count grows;
    * resolution correctness never depends on it. Single writer: two
    * concurrent compact() calls on one entity class are not supported.
    */
  def compact(entityClass: String): Unit = {
    val s = swap(entityClass)
    if (s.recover()) {
      read(entityClass).write.mode("overwrite").parquet(s.staged.toString)
      s.publish(liveExists = true)
    }
  }

  /** Resolve `docs` (must carry a `key` column) against the cache;
    * `fetch` is consulted ONLY for cache-miss keys (it receives a
    * one-column `key` DataFrame and returns (key, resolved_id) rows for
    * the keys the server knows — the bulk form of the reference's
    * per-record query_target_ids). Newly fetched pairs are appended to
    * the cache before joining, so the next run resolves them locally.
    *
    * Scale shape: the miss set is a distinct-key anti-join (one
    * shuffle over keys, not rows); the final resolution join is a plain
    * equi-join — NOT forced broadcast, because an id map is 1:1 with
    * the entity universe and collecting it to the driver is an OOM at
    * scale (AQE still broadcasts small ones on its own).
    */
  def resolve(entityClass: String, docs: DataFrame,
      fetch: DataFrame => DataFrame): DataFrame = {
    val cached = read(entityClass)
    val missKeys = docs.select(col("key")).distinct()
      .join(cached, Seq("key"), "left_anti")
      .persist() // read twice: the emptiness probe and the fetch input
    // try/finally: a throwing fetch/append must not strand cached
    // blocks in executor storage for the session's lifetime
    val idMap =
      try {
        // limit-1 probe, not a count: we only need "any miss at all?"
        if (!missKeys.isEmpty) {
          // persist BEFORE the emptiness probe: each partition of the
          // fetch plan then executes at most once across probe + append —
          // a lazily re-evaluated fetch would hit the target service twice
          val fetched = fetch(missKeys).select(col("key"), col("resolved_id"))
            .persist()
          try {
            // a fetch that resolved nothing (all misses unknown
            // server-side) must not append: permanently-unknown keys
            // would otherwise grow one empty parquet batch per run
            if (fetched.isEmpty) cached
            else {
              append(entityClass, fetched)
              // re-read instead of unioning the fetched plan: the
              // appended files are on disk now, and one scan keeps the
              // join single-source
              read(entityClass)
            }
          } finally fetched.unpersist()
        } else cached
      } finally missKeys.unpersist()
    docs.join(idMap, Seq("key"), "left")
  }
}

/** Cache-free id-map helpers (the former IdMap object, folded in —
  * the S8 join-based replacement for per-row `get_target_id_from_record`
  * RPCs, etl/ingest.py:508-515).
  */
object IdCache {

  /** Left-join resolved server ids onto docs; unresolved keys keep their
    * surrogate id (already embedded in the document JSON).
    *
    * Plain equi-join, NO broadcast hint: an id map is 1:1 with the
    * entity universe — at scale a forced broadcast is a driver OOM.
    * AQE still auto-broadcasts genuinely small maps on its own.
    */
  def resolveWith(docs: DataFrame, idMap: DataFrame,
      keyCol: String = "key", idCol: String = "resolved_id"): DataFrame =
    docs.join(idMap.select(col(keyCol), col(idCol)), Seq(keyCol), "left")

  /** An id-map from a JDBC registry (e.g. the Postgres sink variant). */
  def fromJdbc(spark: SparkSession, url: String, table: String,
      props: java.util.Properties = new java.util.Properties()): DataFrame =
    spark.read.jdbc(url, table, props)
}
