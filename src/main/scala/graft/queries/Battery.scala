package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.clean.CleanOps
import graft.relational.RelationalOps._

/** The oracle-checked query battery. Every entry exercises one operator
  * family from SURVEY.md §2 (IDs in the names) over the driver-provided
  * parquet tables, with a DuckDB-equivalent SQL oracle.
  *
  * Parity rules used throughout (see SURVEY §2.3/§2.6 caveats):
  *  - double aggregates go through fixed-scale decimals (`decSum`) so the
  *    result is bit-identical regardless of partial-agg order;
  *  - collected sets are sorted and joined to strings so array encoding
  *    differences can't matter;
  *  - every computed column is aliased identically on both sides;
  *  - window/sort orders always end in a unique key (deterministic rows).
  */
object Battery {

  final case class Q(
      name: String,
      run: (SparkSession, String) => DataFrame,
      oracle: Option[String])

  private val T = Tables

  // ---------------------------------------------------------------- scans

  /** S1 — point scan with predicate pushdown (etl/ingest.py:61-72). */
  private val s1PointScan = Q(
    "s1_point_scan",
    (s, d) => T.orders(s, d).filter(col("o_orderkey") === 42),
    Some("SELECT * FROM orders WHERE o_orderkey = 42"))

  /** S3 — FK descendant crawl as fixed-depth semi-join pipeline
    * (etl/ingest.py:83-89).
    */
  private val s3Crawl = Q(
    "s3_descendant_semijoin",
    (s, d) => {
      val root = T.region(s, d).filter(col("r_name") === "ASIA")
      val reach = descendantCrawl(root, Seq(
        (T.nation(s, d), col("n_regionkey") === col("r_regionkey")),
        (T.customer(s, d), col("c_nationkey") === col("n_nationkey")),
        (T.orders(s, d), col("o_custkey") === col("c_custkey")),
        (T.lineitem(s, d), col("l_orderkey") === col("o_orderkey"))))
      reach.select("l_orderkey", "l_linenumber")
    },
    Some("""SELECT l_orderkey, l_linenumber FROM lineitem WHERE l_orderkey IN (
           |  SELECT o_orderkey FROM orders WHERE o_custkey IN (
           |    SELECT c_custkey FROM customer WHERE c_nationkey IN (
           |      SELECT n_nationkey FROM nation WHERE n_regionkey IN (
           |        SELECT r_regionkey FROM region WHERE r_name = 'ASIA'))))""".stripMargin))

  // ------------------------------------------- projections / clean / rename

  /** P1+P2 — drop + bulk rename into the pipe-delimited concept namespace
    * (etl/ingest.py:121,147-483).
    */
  private val p2Rename = Q(
    "p2_rename_prune",
    (s, d) => {
      val renames = Map(
        "l_orderkey" -> "LINEITEM|ORDER_ID",
        "l_linenumber" -> "LINEITEM|LINE_NUMBER",
        "l_quantity" -> "LINEITEM|QUANTITY",
        "l_returnflag" -> "LINEITEM|RETURN_FLAG")
      renameColumns(T.lineitem(s, d), renames)
        .select(renames.values.toSeq.sorted.map(col): _*)
    },
    Some("""SELECT l_orderkey AS "LINEITEM|ORDER_ID",
           |       l_linenumber AS "LINEITEM|LINE_NUMBER",
           |       l_quantity AS "LINEITEM|QUANTITY",
           |       l_returnflag AS "LINEITEM|RETURN_FLAG"
           |FROM lineitem""".stripMargin))

  /** P6 — missing-data sentinel normalization (disease.py:26-35 etc.). */
  private val p6Clean = Q(
    "p6_clean_sentinels",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      CleanOps.cleanString(col("source"), Set("src0", "src1")).as("source_clean")),
    Some("""SELECT doc_id,
           |  CASE WHEN trim(source) IN ('src0','src1') THEN NULL
           |       ELSE trim(source) END AS source_clean
           |FROM documents""".stripMargin))

  // ---------------------------------------------------------------- joins

  /** J1 — small-dim broadcast full outer join (etl/ingest.py:178-183). */
  private val j1Outer = Q(
    "j1_broadcast_outer",
    (s, d) => {
      val r = T.region(s, d)
      val n = T.nation(s, d).withColumnRenamed("n_regionkey", "r_regionkey")
      r.join(n, Seq("r_regionkey"), "full_outer")
    },
    Some("""SELECT r_regionkey, r_name, n_nationkey, n_name
           |FROM region FULL JOIN (
           |  SELECT n_nationkey, n_name, n_regionkey AS r_regionkey FROM nation) n
           |USING (r_regionkey)""".stripMargin))

  /** J2–J12 — the left-to-right full outer join chain over shared keys
    * (etl/ingest.py:178-483), here region→nation→customer→orders→lineitem.
    */
  private val jChain = Q(
    "j_outer_chain",
    (s, d) => {
      val r = T.region(s, d)
      val n = T.nation(s, d).withColumnRenamed("n_regionkey", "r_regionkey")
      val c = T.customer(s, d).withColumnRenamed("c_nationkey", "n_nationkey")
      val o = T.orders(s, d).withColumnRenamed("o_custkey", "c_custkey")
      val l = T.lineitem(s, d).withColumnRenamed("l_orderkey", "o_orderkey")
        .select("o_orderkey", "l_linenumber", "l_quantity")
      val wide = outerJoinChain(r, Seq(
        (n, Seq("r_regionkey")),
        (c, Seq("n_nationkey")),
        (o, Seq("c_custkey")),
        (l, Seq("o_orderkey"))))
      wide.select("r_name", "n_name", "c_custkey", "o_orderkey", "l_linenumber", "l_quantity")
    },
    Some("""SELECT r_name, n_name, c_custkey, o_orderkey, l_linenumber, l_quantity
           |FROM region
           |FULL JOIN (SELECT n_nationkey, n_name, n_regionkey AS r_regionkey FROM nation) n USING (r_regionkey)
           |FULL JOIN (SELECT c_custkey, c_name, c_acctbal, c_mktsegment, c_nationkey AS n_nationkey FROM customer) c USING (n_nationkey)
           |FULL JOIN (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority, o_custkey AS c_custkey FROM orders) o USING (c_custkey)
           |FULL JOIN (SELECT l_orderkey AS o_orderkey, l_linenumber, l_quantity FROM lineitem) l USING (o_orderkey)""".stripMargin))

  /** J8 — composite (two-column) key outer join (etl/ingest.py:381-395). */
  private val j8Composite = Q(
    "j8_composite_key",
    (s, d) => {
      val l = T.lineitem(s, d)
      val agg = l.groupBy(col("l_orderkey"), col("l_suppkey"))
        .agg(decSum(col("l_quantity")).as("supp_qty"))
      l.select("l_orderkey", "l_suppkey", "l_linenumber")
        .join(agg, Seq("l_orderkey", "l_suppkey"), "full_outer")
    },
    Some("""SELECT l_orderkey, l_suppkey, l_linenumber, supp_qty
           |FROM (SELECT l_orderkey, l_suppkey, l_linenumber FROM lineitem) a
           |FULL JOIN (SELECT l_orderkey, l_suppkey,
           |             CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS supp_qty
           |           FROM lineitem GROUP BY 1, 2) b
           |USING (l_orderkey, l_suppkey)""".stripMargin))

  /** Null-key retention caveat of pandas merge(how="outer") (SURVEY §2.3):
    * null keys never match but their rows survive.
    */
  private val jNullKey = Q(
    "j_nullkey_outer",
    (s, d) => {
      val c = T.customer(s, d).select(
        when(col("c_nationkey") === 3, lit(null)).otherwise(col("c_nationkey")).as("nk"),
        col("c_custkey"))
      val n = T.nation(s, d).select(
        when(col("n_nationkey") === 4, lit(null)).otherwise(col("n_nationkey")).as("nk"),
        col("n_name"))
      c.join(n, Seq("nk"), "full_outer")
    },
    Some("""SELECT nk, c_custkey, n_name
           |FROM (SELECT NULLIF(c_nationkey, 3) AS nk, c_custkey FROM customer) c
           |FULL JOIN (SELECT NULLIF(n_nationkey, 4) AS nk, n_name FROM nation) n
           |USING (nk)""".stripMargin))

  /** Anti join — rows with NO match on the other side (orphan detection;
    * the negative of S3's semi-join crawl). Broadcast-able like any
    * equi-join; at scale the build side is the filter key set only.
    */
  private val j17Anti = Q(
    "j17_anti_join",
    (s, d) => T.customer(s, d)
      .join(T.orders(s, d), col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name"),
    Some("""SELECT c_custkey, c_name FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)""".stripMargin))

  /** Bloom-pruned equi-join ([[graft.relational.RelationalOps
    * .bloomPrunedJoin]]): the small side's key set collapses to one
    * BloomFilterAggregate blob, shipped as a literal into a codegen'd
    * `might_contain` pre-filter on the fact scan; survivors take the
    * exact join. The oracle is the PLAIN join — the sketch must
    * reproduce it bit-for-bit (no false negatives; false positives die
    * in the exact join), the generic form of x21's decontamination
    * move.
    */
  private val j18BloomPruned = Q(
    "j18_bloom_pruned_join",
    (s, d) => graft.relational.RelationalOps.bloomPrunedJoin(
      T.lineitem(s, d).select(col("l_orderkey"), col("l_quantity")),
      T.orders(s, d).where(col("o_totalprice") > 400000.0)
        .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice")),
      "l_orderkey"),
    Some("""SELECT l_orderkey, l_quantity, o_totalprice
           |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           |WHERE o_totalprice > 400000.0""".stripMargin))

  /** SCD Type-2 merge ([[graft.relational.RelationalOps.scd2Merge]]):
    * orders as the current-version history, a deterministic delta
    * (every 7th key re-stated 30 days later, half of them no-op
    * restatements of the same status) applied as close-and-append.
    * Exercises all three legs — kept-open (unchanged + no-op delta),
    * closed prior versions, and newly opened versions. The oracle
    * replays the same change detection with a left join (delta ⊆ base
    * here; the Spark op joins full-outer for the general insert case).
    */
  private val j19Scd2Merge = Q(
    "j19_scd2_merge",
    (s, d) => {
      val o = T.orders(s, d)
      val base = o.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate").as("valid_from"),
        lit(null).cast("timestamp").as("valid_to"))
      val delta = o.where(col("o_orderkey") % 7 === 0).select(
        col("o_orderkey"),
        when(col("o_orderkey") % 14 === 0, col("o_orderstatus"))
          .otherwise(lit("X")).as("o_orderstatus"),
        col("o_totalprice"),
        (col("o_orderdate") + expr("INTERVAL 30 DAY")).as("eff"))
      graft.relational.RelationalOps.scd2Merge(
        base, delta, Seq("o_orderkey"), "eff")
    },
    Some("""WITH base AS (SELECT o_orderkey, o_orderstatus, o_totalprice,
           |    o_orderdate AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to FROM orders),
           |delta AS (SELECT o_orderkey,
           |    CASE WHEN o_orderkey % 14 = 0 THEN o_orderstatus ELSE 'X' END AS d_status,
           |    o_totalprice AS d_price, o_orderdate + INTERVAL 30 DAY AS eff
           |  FROM orders WHERE o_orderkey % 7 = 0),
           |j AS (SELECT b.*, d.d_status, d.d_price, d.eff,
           |    d.eff IS NOT NULL AND (b.o_orderstatus IS DISTINCT FROM d.d_status
           |      OR b.o_totalprice IS DISTINCT FROM d.d_price) AS changed
           |  FROM base b LEFT JOIN delta d ON b.o_orderkey = d.o_orderkey)
           |SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from, valid_to
           |  FROM j WHERE NOT changed
           |UNION ALL
           |SELECT o_orderkey, o_orderstatus, o_totalprice, valid_from, eff AS valid_to
           |  FROM j WHERE changed
           |UNION ALL
           |SELECT o_orderkey, d_status AS o_orderstatus, d_price AS o_totalprice,
           |    eff AS valid_from, CAST(NULL AS TIMESTAMP) AS valid_to
           |  FROM j WHERE changed""".stripMargin))

  /** CDC apply-changes ([[graft.relational.RelationalOps.cdcApply]]):
    * a synthetic Debezium-style change log over orders — initial load
    * at seq 1, a restatement wave at seq 2, a SECOND same-sequence
    * restatement for every 7th key (the duplicate-LSN redelivery the
    * change_id tiebreak exists for; 7 — not 11 — so the modulus
    * divides the volume probe's ModLcm and replicas stay closed), and a delete wave at seq 3 —
    * collapsed to the latest snapshot. The oracle replays the same
    * row_number pick.
    */
  private val j20CdcApply = Q(
    "j20_cdc_apply",
    (s, d) => {
      val o = T.orders(s, d)
      val k = col("o_orderkey")
      val l1 = o.select(k, col("o_orderstatus"), col("o_totalprice"),
        lit(1L).as("seq"), lit("U").as("op"), (k * 10 + 1).as("change_id"))
      val l2 = o.where(k % 3 === 0).select(k, lit("X").as("o_orderstatus"),
        (col("o_totalprice") + 1.0).as("o_totalprice"),
        lit(2L).as("seq"), lit("U").as("op"), (k * 10 + 2).as("change_id"))
      val l2b = o.where(k % 7 === 0).select(k, lit("Y").as("o_orderstatus"),
        (col("o_totalprice") + 2.0).as("o_totalprice"),
        lit(2L).as("seq"), lit("U").as("op"), (k * 10 + 3).as("change_id"))
      val l3 = o.where(k % 5 === 0).select(k, col("o_orderstatus"),
        col("o_totalprice"),
        lit(3L).as("seq"), lit("D").as("op"), (k * 10 + 4).as("change_id"))
      graft.relational.RelationalOps.cdcApply(
        l1.unionAll(l2).unionAll(l2b).unionAll(l3),
        Seq("o_orderkey"), "seq", "op", Seq("change_id"))
    },
    Some("""WITH log AS (
           |  SELECT o_orderkey, o_orderstatus, o_totalprice,
           |      CAST(1 AS BIGINT) AS seq, 'U' AS op, o_orderkey*10+1 AS change_id
           |    FROM orders
           |  UNION ALL
           |  SELECT o_orderkey, 'X', o_totalprice + 1.0, 2, 'U', o_orderkey*10+2
           |    FROM orders WHERE o_orderkey % 3 = 0
           |  UNION ALL
           |  SELECT o_orderkey, 'Y', o_totalprice + 2.0, 2, 'U', o_orderkey*10+3
           |    FROM orders WHERE o_orderkey % 7 = 0
           |  UNION ALL
           |  SELECT o_orderkey, o_orderstatus, o_totalprice, 3, 'D', o_orderkey*10+4
           |    FROM orders WHERE o_orderkey % 5 = 0),
           |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
           |    ORDER BY seq DESC, change_id DESC) AS rn FROM log)
           |SELECT o_orderkey, o_orderstatus, o_totalprice, change_id
           |FROM r WHERE rn = 1 AND op <> 'D'""".stripMargin))

  /** Snapshot diff ([[graft.relational.RelationalOps.tableDiff]]):
    * reconcile orders against a mutated copy — every 9th key removed,
    * every 4th restated status, every 6th bumped price, every 25th
    * re-added under a fresh (negated) key (moduli all divide the
    * volume probe's ModLcm, keeping replicas closed) — into
    * added/removed/changed
    * rows with the changed-column list. Unchanged rows are absent by
    * contract. The oracle replays the same null-safe full-outer
    * compare.
    */
  private val j21TableDiff = Q(
    "j21_table_diff",
    (s, d) => {
      val o = T.orders(s, d).select(col("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      val k = col("o_orderkey")
      val mutated = o.where(k % 9 =!= 0).select(k,
        when(k % 4 === 0, lit("Z")).otherwise(col("o_orderstatus"))
          .as("o_orderstatus"),
        when(k % 6 === 0, col("o_totalprice") + 10.0)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      // the k≠0 guard excludes the whole mod-1260000 class (not just 0)
      // so the volume probe's replicas stay closed: clones of key 0 are
      // r·offset, which ≡ 0 (mod 1260000) for every replica
      val added = o.where(k % 25 === 0 && k % 1260000 =!= 0)
        .select((-k).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
      graft.relational.RelationalOps.tableDiff(
        o, mutated.unionAll(added), Seq("o_orderkey"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
           |m AS (SELECT o_orderkey,
           |    CASE WHEN o_orderkey % 4 = 0 THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
           |    CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 10.0
           |         ELSE o_totalprice END AS o_totalprice
           |  FROM orders WHERE o_orderkey % 9 <> 0
           |  UNION ALL
           |  SELECT -o_orderkey, o_orderstatus, o_totalprice FROM orders
           |  WHERE o_orderkey % 25 = 0 AND o_orderkey % 1260000 <> 0),
           |j AS (SELECT coalesce(o.o_orderkey, m.o_orderkey) AS o_orderkey,
           |    o.o_orderkey IS NOT NULL AS in_old, m.o_orderkey IS NOT NULL AS in_new,
           |    o.o_orderstatus AS os, m.o_orderstatus AS ns,
           |    o.o_totalprice AS op, m.o_totalprice AS np
           |  FROM o FULL JOIN m ON o.o_orderkey = m.o_orderkey),
           |f AS (SELECT *,
           |    CASE WHEN in_old AND NOT in_new THEN 'removed'
           |         WHEN in_new AND NOT in_old THEN 'added'
           |         WHEN os IS DISTINCT FROM ns OR op IS DISTINCT FROM np
           |           THEN 'changed' END AS status,
           |    concat(CASE WHEN os IS DISTINCT FROM ns THEN 'o_orderstatus' ELSE '' END,
           |      CASE WHEN os IS DISTINCT FROM ns AND op IS DISTINCT FROM np THEN ',' ELSE '' END,
           |      CASE WHEN op IS DISTINCT FROM np THEN 'o_totalprice' ELSE '' END) AS cc
           |  FROM j)
           |SELECT o_orderkey, status,
           |  CASE WHEN status = 'changed' THEN cc ELSE '' END AS changed_cols,
           |  os AS old_o_orderstatus, ns AS new_o_orderstatus,
           |  op AS old_o_totalprice, np AS new_o_totalprice
           |FROM f WHERE status IS NOT NULL""".stripMargin))

  /** Incremental aggregate maintenance
    * ([[graft.relational.RelationalOps.mergeAggStates]]): the 1994-
    * and-earlier aggregate state merged with the 1995+ delta state
    * must equal the full recompute BIT-FOR-BIT (decimal sum states, so
    * merge order can't drift) — the materialized-view refresh law; the
    * oracle IS the full recompute.
    */
  private val j22IncrementalAgg = Q(
    "j22_incremental_agg",
    (s, d) => {
      val o = T.orders(s, d)
      def state(df: DataFrame): DataFrame = df.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          sum(col("o_totalprice").cast("decimal(18,2)")).as("sum_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))
      val cut = "1995-01-01"
      val base = state(o.where(col("o_orderdate") < cut))
      val delta = state(o.where(col("o_orderdate") >= cut))
      graft.relational.RelationalOps.mergeAggStates(
          base, delta, Seq("o_orderstatus"),
          countCols = Seq("n"), sumCols = Seq("sum_price"),
          minCols = Seq("min_price"), maxCols = Seq("max_price"))
        .select(col("o_orderstatus"), col("n"),
          col("sum_price").cast("double").as("sum_price"),
          col("min_price"), col("max_price"))
    },
    Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
           |  min(o_totalprice) AS min_price, max(o_totalprice) AS max_price
           |FROM orders GROUP BY 1""".stripMargin))

  /** J13/F7 — broadcast code-system dictionary lookup with and without
    * default (patient.py:12-115, family.py:78).
    */
  private val j13Codes = Q(
    "j13_code_lookup",
    (s, d) => {
      val regionCodes = Map(
        "AFRICA" -> "AF", "AMERICA" -> "AM", "ASIA" -> "AS",
        "EUROPE" -> "EU", "MIDDLE EAST" -> "ME")
      val nationCodes = Map("CHINA" -> "CN", "FRANCE" -> "FR")
      val n = T.nation(s, d)
      val r = T.region(s, d).withColumnRenamed("r_regionkey", "n_regionkey")
      n.join(broadcast(r), Seq("n_regionkey"), "inner").select(
        col("n_name"), col("r_name"),
        codeLookup(col("r_name"), regionCodes).as("region_code"),
        codeLookupWithDefault(col("n_name"), nationCodes, "XX").as("nation_code"))
    },
    Some("""SELECT n_name, r_name,
           |  CASE r_name WHEN 'AFRICA' THEN 'AF' WHEN 'AMERICA' THEN 'AM'
           |              WHEN 'ASIA' THEN 'AS' WHEN 'EUROPE' THEN 'EU'
           |              WHEN 'MIDDLE EAST' THEN 'ME' END AS region_code,
           |  CASE n_name WHEN 'CHINA' THEN 'CN' WHEN 'FRANCE' THEN 'FR'
           |              ELSE 'XX' END AS nation_code
           |FROM nation JOIN region ON n_regionkey = r_regionkey""".stripMargin))

  // ----------------------------------------------------------- aggregates

  /** A1 — group + first-distinct + collect-distinct-set (family.py:29-47);
    * the set is sorted+joined for deterministic comparison (SURVEY §7.4
    * non-determinism note).
    */
  private val a1Collect = Q(
    "a1_group_collect",
    (s, d) => T.customer(s, d).groupBy(col("c_nationkey")).agg(
      array_join(sort_array(collect_set(col("c_mktsegment"))), ",").as("segments"),
      min(col("c_name")).as("first_name"),
      count(lit(1)).as("n_members")),
    Some("""SELECT c_nationkey,
           |  array_to_string(list_sort(list(DISTINCT c_mktsegment)), ',') AS segments,
           |  min(c_name) AS first_name,
           |  count(*) AS n_members
           |FROM customer GROUP BY c_nationkey""".stripMargin))

  /** A2 — dynamic grouping keys + collected member ids
    * (drs_document_reference.py:170-206).
    */
  private val a2Collect = Q(
    "a2_group_collect_dynamic",
    (s, d) => T.orders(s, d).groupBy(col("o_orderstatus"), col("o_orderpriority")).agg(
      array_join(sort_array(collect_set(col("o_custkey").cast("string"))), ",").as("members"),
      countDistinct(col("o_custkey")).as("n_distinct"),
      count(lit(1)).as("n_rows")),
    Some("""SELECT o_orderstatus, o_orderpriority,
           |  array_to_string(list_sort(list(DISTINCT CAST(o_custkey AS VARCHAR))), ',') AS members,
           |  count(DISTINCT o_custkey) AS n_distinct,
           |  count(*) AS n_rows
           |FROM orders GROUP BY 1, 2""".stripMargin))

  /** A5 — exact duplicate elimination (clean_up_df / dropDuplicates). */
  private val a5Dedup = Q(
    "a5_dedup_distinct",
    (s, d) => T.customer(s, d).select("c_mktsegment", "c_nationkey").dropDuplicates(),
    Some("SELECT DISTINCT c_mktsegment, c_nationkey FROM customer"))

  /** Multi-level aggregation — ROLLUP (engine surface, SURVEY §2.4
    * "absent" note: grouping sets come free from Catalyst). grouping()
    * flags disambiguate rolled-up nulls from genuine null keys.
    */
  private val a6Rollup = Q(
    "a6_rollup",
    (s, d) => T.orders(s, d)
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n"),
        decSum(col("o_totalprice")).as("total")),
    Some("""SELECT o_orderstatus, o_orderpriority,
           |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           |  count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)""".stripMargin))

  /** Multi-level aggregation — CUBE over two dimensions. */
  private val a7Cube = Q(
    "a7_cube",
    (s, d) => T.lineitem(s, d)
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        grouping(col("l_returnflag")).cast("int").as("g_flag"),
        grouping(col("l_linestatus")).cast("int").as("g_status"),
        count(lit(1)).as("n"),
        decSum(col("l_quantity")).as("qty")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(GROUPING(l_returnflag) AS INT) AS g_flag,
           |  CAST(GROUPING(l_linestatus) AS INT) AS g_status,
           |  count(*) AS n,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS qty
           |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)""".stripMargin))

  /** Explicit GROUPING SETS — the general form behind a6/a7: an
    * arbitrary set list ((status, priority), (priority), ()) in ONE
    * shuffle via Expand, instead of unioning three aggregations.
    */
  private val a13GroupingSets = Q(
    "a13_grouping_sets",
    (s, d) => T.orders(s, d)
      .groupingSets(
        Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
          Seq(col("o_orderpriority")), Seq()),
        col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        grouping(col("o_orderstatus")).cast("int").as("g_status"),
        grouping(col("o_orderpriority")).cast("int").as("g_priority"),
        count(lit(1)).as("n"),
        decSum(col("o_totalprice")).as("total")),
    Some("""SELECT o_orderstatus, o_orderpriority,
           |  CAST(GROUPING(o_orderstatus) AS INT) AS g_status,
           |  CAST(GROUPING(o_orderpriority) AS INT) AS g_priority,
           |  count(*) AS n,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderpriority), ())""".stripMargin))

  /** Distinct-count sketch (HyperLogLog++): algorithm-specific estimates
    * can't hash-match an oracle value-for-value, so the checked output is
    * the exact count plus a bounded-error verdict (|approx−exact| ≤ 10%
    * of exact, ~2× the default 5% rsd) — the oracle asserts the verdict
    * is TRUE for every group, making the sketch's accuracy itself the
    * hash-checked property. The ScalaTest spec additionally pins the
    * observed relative error.
    */
  private val a8ApproxDistinct = Q(
    "a8_approx_distinct",
    (s, d) => T.orders(s, d).groupBy(col("o_orderstatus")).agg(
      countDistinct(col("o_custkey")).as("exact_customers"),
      count(lit(1)).as("n_rows"),
      (abs(approx_count_distinct(col("o_custkey")).cast("double") -
        countDistinct(col("o_custkey")).cast("double")) <=
        countDistinct(col("o_custkey")).cast("double") * 0.10).as("approx_ok")),
    Some("""SELECT o_orderstatus,
           |  count(DISTINCT o_custkey) AS exact_customers,
           |  count(*) AS n_rows,
           |  TRUE AS approx_ok
           |FROM orders GROUP BY o_orderstatus""".stripMargin))

  /** Exact percentiles per group (sort-based `percentile`, linear
    * interpolation — same definition as the oracle's quantile_cont).
    */
  private val a11Percentile = Q(
    "a11_percentile",
    (s, d) => T.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        percentile(col("o_totalprice"), lit(0.25)).as("p25"),
        percentile(col("o_totalprice"), lit(0.5)).as("p50"),
        percentile(col("o_totalprice"), lit(0.75)).as("p75")),
    Some("""SELECT o_orderstatus,
           |  quantile_cont(o_totalprice, 0.25) AS p25,
           |  quantile_cont(o_totalprice, 0.5) AS p50,
           |  quantile_cont(o_totalprice, 0.75) AS p75
           |FROM orders GROUP BY o_orderstatus""".stripMargin))

  /** Approximate percentile (KLL-style sketch, `percentile_approx`) —
    * like a8, the hash-checked property is the sketch's accuracy: the
    * oracle pins exact quantiles and asserts the approximation lands
    * within 1%. The sketch is the 100 TB path (mergeable, bounded
    * memory); the exact form (a11) collects per-group sorted values.
    */
  private val a12ApproxPercentile = Q(
    "a12_approx_percentile",
    (s, d) => T.orders(s, d)
      .groupBy(col("o_orderstatus"))
      .agg(
        percentile(col("o_totalprice"), lit(0.5)).as("p50_exact"),
        (abs(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)) -
          percentile(col("o_totalprice"), lit(0.5))) <=
          percentile(col("o_totalprice"), lit(0.5)) * 0.01).as("approx_ok")),
    Some("""SELECT o_orderstatus,
           |  quantile_cont(o_totalprice, 0.5) AS p50_exact,
           |  TRUE AS approx_ok
           |FROM orders GROUP BY o_orderstatus""".stripMargin))

  /** Windowed percentiles: every row sees its group's exact median as
    * an analytic column, plus a windowed `percentile_approx` pinned to
    * within 1% of it (the a12 pattern, per-row). Exact windowed
    * percentile sorts each partition — fine for bounded partitions; at
    * 100 TB the mergeable sketch is the scale path, which is why the
    * accuracy gate rides along.
    */
  private val a14WindowedPercentile = Q(
    "a14_windowed_percentile",
    (s, d) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("o_orderstatus")
      T.orders(s, d).select(
        col("o_orderkey"),
        col("o_orderstatus"),
        percentile(col("o_totalprice"), lit(0.5)).over(w).as("p50_status"),
        (abs(percentile_approx(col("o_totalprice"), lit(0.5), lit(10000)).over(w) -
          percentile(col("o_totalprice"), lit(0.5)).over(w)) <=
          percentile(col("o_totalprice"), lit(0.5)).over(w) * 0.01).as("approx_ok"))
    },
    Some("""SELECT o_orderkey, o_orderstatus,
           |  quantile_cont(o_totalprice, 0.5) OVER (PARTITION BY o_orderstatus) AS p50_status,
           |  TRUE AS approx_ok
           |FROM orders""".stripMargin))

  /** Correlation / covariance via exact decimal moment sums and a
    * closed-form double finish. Spark's own `corr`/`covar_samp`
    * accumulate co-moments in doubles, so the last-ulp result depends
    * on partition merge order — not reproducible across runs, let alone
    * engines. Summing the five moments as fixed-scale decimals (exact,
    * map-side partial) and deriving the statistics with the SAME IEEE
    * double expression on both sides is deterministic AND mergeable at
    * any scale.
    */
  private val a15CorrCovar = Q(
    "a15_corr_covar",
    (s, d) => {
      val q = col("l_quantity").cast("decimal(18,2)")
      val p = col("l_extendedprice").cast("decimal(18,2)")
      val moments = T.lineitem(s, d)
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("sx"), sum(p).as("sy"),
          sum(q * q).as("sxx"), sum(p * p).as("syy"), sum(q * p).as("sxy"))
      val (n, sx, sy) =
        (col("n").cast("double"), col("sx").cast("double"), col("sy").cast("double"))
      val (sxx, syy, sxy) =
        (col("sxx").cast("double"), col("syy").cast("double"), col("sxy").cast("double"))
      moments.select(
        col("l_returnflag"), col("n"),
        ((n * sxy - sx * sy) /
          sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))).as("corr_qty_price"),
        ((n * sxy - sx * sy) / (n * (n - lit(1.0)))).as("covar_samp_qty_price"))
    },
    Some("""SELECT l_returnflag, n,
           |  (nd*sxy - sx*sy) / sqrt((nd*sxx - sx*sx) * (nd*syy - sy*sy)) AS corr_qty_price,
           |  (nd*sxy - sx*sy) / (nd*(nd - 1.0)) AS covar_samp_qty_price
           |FROM (
           |  SELECT l_returnflag, count(*) AS n,
           |    CAST(count(*) AS DOUBLE) AS nd,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sx,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sy,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sxx,
           |    CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS syy,
           |    CAST(sum(CAST(l_quantity AS DECIMAL(18,2)) * CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sxy
           |  FROM lineitem GROUP BY l_returnflag)""".stripMargin))

  /** TPC-H Q1-shaped headline aggregate (engine surface beyond the
    * reference: numeric aggregates, SURVEY §2.4 "absent" note).
    */
  private val q1Agg = Q(
    "q1_agg",
    (s, d) => T.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        decSum(col("l_quantity")).as("sum_qty"),
        decSum(col("l_extendedprice")).as("sum_base_price"),
        sum(col("l_extendedprice").cast("decimal(18,2)") *
            (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
          .cast("double").as("sum_disc_price"),
        (sum(col("l_discount").cast("decimal(18,2)")).cast("double") / count(lit(1))).as("avg_disc"),
        count(lit(1)).as("count_order")),
    Some("""SELECT l_returnflag, l_linestatus,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
           |           (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
           |  CAST(SUM(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS avg_disc,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           |GROUP BY l_returnflag, l_linestatus""".stripMargin))

  // ------------------------------------------- window / sort / set ops

  /** Window functions (engine surface, SURVEY §2.5): ranking + running
    * aggregate with a deterministic (unique-suffixed) order.
    */
  private val w1Window = Q(
    "w1_window_rank",
    (s, d) => {
      // l_quantity/l_extendedprice tiebreakers make the order total over
      // the synthetic duplicate (orderkey, linenumber) rows — without
      // them the running sum is tie-order-dependent and the oracle
      // compare is a coin flip (one ambiguous tie group exists at sf0.1;
      // rows tying on ALL five keys leave every prefix sum invariant)
      val w = Window.partitionBy(col("l_suppkey"))
        .orderBy(col("l_shipdate"), col("l_orderkey"), col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice"))
      T.lineitem(s, d).select(
        col("l_suppkey"), col("l_orderkey"), col("l_linenumber"),
        row_number().over(w).as("rn"),
        sum(col("l_quantity").cast("decimal(18,2)"))
          .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
          .cast("double").as("running_qty"))
    },
    Some("""SELECT l_suppkey, l_orderkey, l_linenumber,
           |  CAST(row_number() OVER w AS INT) AS rn,
           |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2)))
           |       OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS running_qty
           |FROM lineitem
           |WINDOW w AS (PARTITION BY l_suppkey
           |             ORDER BY l_shipdate, l_orderkey, l_linenumber, l_quantity, l_extendedprice)""".stripMargin))

  /** Analytic window functions beyond ranking: lag/lead offsets,
    * first-value frames, quantile buckets (engine surface, SURVEY §2.5).
    */
  private val w2Analytic = Q(
    "w2_window_analytic",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_orderdate"), col("o_orderkey"))
      T.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        lag(col("o_totalprice"), 1).over(w).as("prev_price"),
        lead(col("o_totalprice"), 1).over(w).as("next_price"),
        first_value(col("o_orderdate")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)).as("first_date"),
        ntile(4).over(w).as("quartile"))
    },
    Some("""SELECT o_custkey, o_orderkey,
           |  lag(o_totalprice, 1) OVER w AS prev_price,
           |  lead(o_totalprice, 1) OVER w AS next_price,
           |  first_value(o_orderdate) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS first_date,
           |  CAST(ntile(4) OVER w AS INT) AS quartile
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)""".stripMargin))

  /** Value-based (RANGE) window frame: trailing 30-day spend per
    * customer. Unlike w1's ROWS frame, the frame bound is a value
    * interval on the ordering key, so peers (ties) are always included
    * together — deterministic regardless of tie order. Both sides order
    * by epoch seconds so the frame arithmetic is identical.
    */
  private val w4RangeFrame = Q(
    "w4_range_frame",
    (s, d) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(unix_timestamp(col("o_orderdate")))
        .rangeBetween(-30L * 86400, Window.currentRow)
      T.orders(s, d).select(
        col("o_custkey"), col("o_orderkey"),
        count(lit(1)).over(w).as("n_30d"),
        sum(col("o_totalprice").cast("decimal(18,2)")).over(w)
          .cast("double").as("spend_30d"))
    },
    Some("""SELECT o_custkey, o_orderkey,
           |  count(*) OVER w AS n_30d,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) OVER w AS DOUBLE) AS spend_30d
           |FROM orders
           |WINDOW w AS (PARTITION BY o_custkey ORDER BY CAST(epoch(o_orderdate) AS BIGINT)
           |             RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW)""".stripMargin))

  /** Row generator (explode(sequence)) + gap-fill: a daily date spine
    * left-joined to per-day order counts, absent days as zero — the
    * calendar-densify step of any time-series pipeline. The spine is
    * rows-from-nothing (no input scan); the join broadcasts the tiny
    * aggregated side.
    */
  private val g1DateSpine = Q(
    "g1_date_spine",
    (s, d) => {
      val spine = s.range(1).select(explode(sequence(
        lit("1995-01-01").cast("timestamp"),
        lit("1995-01-31").cast("timestamp"),
        expr("INTERVAL 1 DAY"))).as("day"))
      val daily = T.orders(s, d)
        .groupBy(date_trunc("DAY", col("o_orderdate")).as("day"))
        .agg(count(lit(1)).as("n_orders"))
      spine.join(daily, Seq("day"), "left")
        .select(col("day"), coalesce(col("n_orders"), lit(0L)).as("n_orders"))
    },
    Some("""WITH spine AS (SELECT unnest(generate_series(TIMESTAMP '1995-01-01',
           |    TIMESTAMP '1995-01-31', INTERVAL 1 DAY)) AS day),
           |daily AS (SELECT date_trunc('day', o_orderdate) AS day, count(*) AS n_orders
           |  FROM orders GROUP BY 1)
           |SELECT day, COALESCE(n_orders, 0) AS n_orders
           |FROM spine LEFT JOIN daily USING (day)""".stripMargin))

  /** Batch gap-sessionization of the event stream
    * ([[graft.relational.RelationalOps.sessionize]], 30-minute gap) +
    * per-session rollup — the batch twin of `tw_session_window`'s
    * streaming `session_window` path. One shuffle on user_id; the
    * boundary flag and the running session counter share one sort.
    */
  private val g2Sessionize = Q(
    "g2_sessionize",
    (s, d) => {
      val sess = sessionize(T.events(s, d), Seq("user_id"), "ts",
        gapSeconds = 1800L, orderCols = Seq("ts", "event_id"))
      sess.groupBy(col("user_id"), col("session_seq"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("session_start"),
          max(col("ts")).as("session_end"),
          decSum(col("value")).as("total_value"))
    },
    Some("""WITH o AS (SELECT user_id, ts, event_id, value,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT *, CAST(sum(is_new) OVER (PARTITION BY user_id
           |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
           |      FROM o)
           |SELECT user_id, session_seq, count(*) AS n_events,
           |  min(ts) AS session_start, max(ts) AS session_end,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
           |FROM s GROUP BY user_id, session_seq""".stripMargin))

  /** Daily gap-fill + last-observation-carried-forward per user
    * ([[graft.relational.RelationalOps.gapFillLocf]]): densify each
    * user's per-day value sums onto their own min..max day spine and
    * carry the last observed sum across silent days — the time-series
    * twin of g1's calendar densify, but per-key and value-filling.
    */
  private val g3LocfFill = Q(
    "g3_locf_fill",
    (s, d) => {
      val daily = T.events(s, d)
        .groupBy(col("user_id"),
          to_date(date_trunc("DAY", col("ts"))).as("day"))
        .agg(decSum(col("value")).as("day_value"))
      gapFillLocf(daily, Seq("user_id"), "day", Seq("day_value"))
    },
    Some("""WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_value
           |  FROM events GROUP BY 1, 2),
           |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
           |spine AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           |  FROM span),
           |j AS (SELECT s.user_id, s.day, d.day_value
           |  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day)
           |SELECT user_id, day,
           |  last_value(day_value IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS day_value
           |FROM j""".stripMargin))

  /** Robust (median/MAD) outlier screen over order totals per priority
    * class ([[graft.relational.RelationalOps.robustOutliers]]) — exact
    * interpolated medians (the a11 parity form) so the flags are
    * engine-reproducible.
    */
  private val a16MadOutliers = Q(
    "a16_mad_outliers",
    (s, d) => graft.relational.RelationalOps.robustOutliers(
      T.orders(s, d).select(col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice")),
      Seq("o_orderpriority"), "o_totalprice", k = 3.0),
    Some("""WITH med AS (SELECT o_orderpriority, quantile_cont(o_totalprice, 0.5) AS med
           |  FROM orders GROUP BY 1),
           |dev AS (SELECT o.o_orderkey, o.o_orderpriority, o.o_totalprice, m.med,
           |    abs(o.o_totalprice - m.med) AS adev
           |  FROM orders o JOIN med m USING (o_orderpriority)),
           |mad AS (SELECT o_orderpriority, quantile_cont(adev, 0.5) AS mad
           |  FROM dev GROUP BY 1)
           |SELECT d.o_orderkey, d.o_orderpriority, d.o_totalprice, d.med, a.mad,
           |  d.adev > 3 * a.mad AS is_outlier
           |FROM dev d JOIN mad a USING (o_orderpriority)""".stripMargin))

  /** Re-aggregatable HLL distinct-count cube
    * ([[graft.ops.SketchOps.hllRollupLaw]]): per-month customer
    * sketches per order status, rolled up by MERGING — the pattern
    * that answers arbitrary-range distinct counts at 100 TB without
    * re-scanning the fact table. DataSketches registers can't be
    * replayed cross-engine, so the row carries the LAW instead: from
    * BOTH cell granularities (month, and month × priority) the merged
    * rollup lands within 5 % of the true distinct count (lgK 12 ⇒
    * σ ≈ 1.6 %). The oracle pins the exact count and both verdicts.
    */
  private val a17HllRollup = Q(
    "a17_hll_rollup",
    (s, d) => graft.ops.SketchOps.hllRollupLaw(
      T.orders(s, d).withColumn("omonth",
        date_trunc("month", col("o_orderdate"))),
      rollupKeys = Seq("o_orderstatus"),
      cellKeys = Seq("o_orderstatus", "omonth"),
      fineKeys = Seq("o_orderstatus", "omonth", "o_orderpriority"),
      valueCol = "o_custkey", lgK = 12, relTol = 0.05),
    Some("""SELECT o_orderstatus,
           |  count(DISTINCT o_custkey) AS exact_distinct,
           |  TRUE AS coarse_ok, TRUE AS fine_ok
           |FROM orders GROUP BY 1""".stripMargin))

  /** k-anonymity audit ([[graft.clean.CleanOps.kAnonymityAudit]],
    * k = 10): equivalence classes over (nation, market segment,
    * account-balance band) — the privacy screen before a data release;
    * classes smaller than k re-identify their members. One map-side
    * partial hash aggregate; output bounded by the quasi-id domain.
    */
  private val x34KAnonymity = Q(
    "x34_k_anonymity",
    (s, d) => graft.clean.CleanOps.kAnonymityAudit(
      T.customer(s, d).withColumn("bal_band",
        floor(col("c_acctbal") / 1000).cast("long")),
      Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 10L),
    Some("""SELECT c_nationkey, c_mktsegment,
           |  CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           |  CAST(count(*) AS BIGINT) AS class_size,
           |  count(*) < 10 AS violates_k
           |FROM customer GROUP BY 1, 2, 3""".stripMargin))

  /** x35 — HTML → text extraction ([[graft.ops.TextOps.htmlToText]],
    * native [[graft.functions.HtmlText]]): deterministic HTML is built
    * AROUND each document's text (comment + style + script blocks, a
    * tag soup, and an entity gauntlet that pins the decode ORDER —
    * `&amp;lt;` must come out as the literal text "&lt;", and entity-
    * encoded tags must survive as text because tags strip before
    * entities decode). The oracle builds the same markup and replays
    * the identical regex chain, step for step. Narrow and shuffle-free:
    * the whole query is one codegen'd projection.
    */
  private val x35HtmlExtract = Q(
    "x35_html_extract",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.TextOps.htmlToText(concat(
        lit("<html><!-- doc "), col("doc_id"),
        lit(" --><head><style type=\"text/css\">p { color: red; }</style>" +
          "<script>var x = 1 < 2 && \"</div>\";</script></head><body><h1>Doc "),
        col("doc_id"), lit("</h1><p>"), col("text"),
        lit("</p><div>tail &amp;lt; &lt;b&gt;bold&lt;/b&gt; &quot;q&quot;" +
          "&nbsp;end</div></body></html>"))).as("extracted")),
    Some("""WITH h AS (SELECT doc_id,
           |  '<html><!-- doc ' || doc_id ||
           |  ' --><head><style type="text/css">p { color: red; }</style>' ||
           |  '<script>var x = 1 < 2 && "</div>";</script></head><body><h1>Doc ' ||
           |  doc_id || '</h1><p>' || text ||
           |  '</p><div>tail &amp;lt; &lt;b&gt;bold&lt;/b&gt; &quot;q&quot;' ||
           |  '&nbsp;end</div></body></html>' AS html FROM documents)
           |SELECT doc_id, trim(
           |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           |  html,
           |  '(?is)<!--.*?-->', ' ', 'g'),
           |  '(?is)<script\b[^>]*>.*?</script>', ' ', 'g'),
           |  '(?is)<style\b[^>]*>.*?</style>', ' ', 'g'),
           |  '(?s)<[^>]*>', ' ', 'g'),
           |  '&lt;', '<', 'g'),
           |  '&gt;', '>', 'g'),
           |  '&quot;', '"', 'g'),
           |  '&apos;', '''', 'g'),
           |  '&#39;', '''', 'g'),
           |  '&nbsp;', ' ', 'g'),
           |  '&amp;', '&', 'g'),
           |  '\s+', ' ', 'g')) AS extracted
           |FROM h""".stripMargin))

  /** One-pass column profile ([[graft.clean.CleanOps.columnProfile]]):
    * null/distinct/min/max per profiled column from a SINGLE aggregate
    * pass, unpivoted to one row per column — the per-batch data-quality
    * expectation report. The battery row profiles long + string columns
    * (numeric-to-string rendering is engine-specific for doubles and
    * timestamps; the op handles them — the cross-engine PIN sticks to
    * types whose string forms agree).
    */
  private val p9ColumnProfile = Q(
    "p9_column_profile",
    (s, d) => graft.clean.CleanOps.columnProfile(
      T.orders(s, d),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority")),
    Some("""SELECT 'o_orderkey' AS "column",
           |  CAST(sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           |  CAST(count(DISTINCT o_orderkey) AS BIGINT) AS n_distinct,
           |  CAST(min(o_orderkey) AS VARCHAR) AS min_s,
           |  CAST(max(o_orderkey) AS VARCHAR) AS max_s
           |FROM orders
           |UNION ALL
           |SELECT 'o_custkey',
           |  CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(DISTINCT o_custkey) AS BIGINT),
           |  CAST(min(o_custkey) AS VARCHAR), CAST(max(o_custkey) AS VARCHAR)
           |FROM orders
           |UNION ALL
           |SELECT 'o_orderstatus',
           |  CAST(sum(CASE WHEN o_orderstatus IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           |  min(o_orderstatus), max(o_orderstatus)
           |FROM orders
           |UNION ALL
           |SELECT 'o_orderpriority',
           |  CAST(sum(CASE WHEN o_orderpriority IS NULL THEN 1 ELSE 0 END) AS BIGINT),
           |  CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           |  min(o_orderpriority), max(o_orderpriority)
           |FROM orders""".stripMargin))

  /** HLL set algebra by inclusion–exclusion
    * ([[graft.ops.SketchOps.hllIntersectLaw]]): how many customers do
    * each pair of order statuses share? — est(A) + est(B) − est(A∪B)
    * from the persisted sketch table, verified against the exact
    * intersection within the stacked-error envelope. The oracle pins
    * the exact counts and the verdicts.
    */
  private val a21HllIntersect = Q(
    "a21_hll_intersect",
    (s, d) => graft.ops.SketchOps.hllIntersectLaw(
      T.orders(s, d), "o_orderstatus", "o_custkey", lgK = 12, relTol = 0.1),
    Some("""WITH kv AS (SELECT DISTINCT o_orderstatus AS k, o_custkey AS v
           |  FROM orders)
           |SELECT a.k AS key_a, b.k AS key_b,
           |  CAST(count(*) AS BIGINT) AS exact_intersect,
           |  TRUE AS within_tol
           |FROM kv a JOIN kv b ON a.v = b.v AND a.k < b.k
           |GROUP BY 1, 2""".stripMargin))

  /** Equi-depth binning ([[graft.relational.RelationalOps.equiDepthBins]],
    * 10 bins): per order status, decile bins of o_totalprice with
    * population and [lo, hi] boundaries — ntile semantics with a
    * unique (value, key) tiebreak so assignment is deterministic.
    */
  private val a18EquiDepthBins = Q(
    "a18_equidepth_bins",
    (s, d) => graft.relational.RelationalOps.equiDepthBins(
      T.orders(s, d), Seq("o_orderstatus"), "o_totalprice",
      Seq("o_orderkey"), nBins = 10),
    Some("""WITH b AS (SELECT o_orderstatus, o_totalprice,
           |    ntile(10) OVER (PARTITION BY o_orderstatus
           |      ORDER BY o_totalprice, o_orderkey) AS bin
           |  FROM orders)
           |SELECT o_orderstatus, CAST(bin AS INT) AS bin,
           |  CAST(count(*) AS BIGINT) AS n,
           |  min(o_totalprice) AS lo, max(o_totalprice) AS hi
           |FROM b GROUP BY 1, 2""".stripMargin))

  /** a18b — the 100 TB equi-depth form, driver-checked
    * ([[graft.relational.RelationalOps.equiDepthBinsApproxLaw]]): the
    * sketch-boundary binning's rank-error envelope as a hashable
    * verdict (the a17 pattern) — exact per-group totals, the bin
    * count, and a boolean that every bin population sits within
    * 2·N/accuracy + rounding of the ideal N/nBins split. The oracle
    * pins the exact totals and expects the verdicts true; a broken
    * sketch (wrong ε, bad merge) flips a boolean and fails loudly.
    */
  private val a18bEquiDepthApprox = Q(
    "a18b_equidepth_approx",
    (s, d) => graft.relational.RelationalOps.equiDepthBinsApproxLaw(
      T.orders(s, d), Seq("o_orderstatus"), "o_totalprice",
      nBins = 10, accuracy = 10000),
    Some("""SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS total,
           |  CAST(10 AS BIGINT) AS n_bins, TRUE AS within_envelope
           |FROM orders GROUP BY 1""".stripMargin))

  /** Tie-aware ROC-AUC per order priority
    * ([[graft.ops.EvalOps.aucByGroup]]): does total price separate
    * F-status orders? — the Mann–Whitney U in doubled integer counts,
    * floored to millionths, so the oracle replays the exact number.
    * The eval set collapses to (group, distinct score) map-side.
    */
  private val a19Auc = Q(
    "a19_auc",
    (s, d) => graft.ops.EvalOps.aucByGroup(
      T.orders(s, d), Seq("o_orderpriority"), "o_totalprice",
      col("o_orderstatus") === "F"),
    Some("""WITH s AS (SELECT o_orderpriority AS g, o_totalprice AS sc,
           |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS pos,
           |    CAST(sum(CASE WHEN o_orderstatus = 'F' THEN 0 ELSE 1 END) AS BIGINT) AS neg
           |  FROM orders GROUP BY 1, 2),
           |r AS (SELECT *, coalesce(CAST(sum(neg) OVER (PARTITION BY g ORDER BY sc
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS nb
           |  FROM s),
           |a AS (SELECT g, CAST(sum(pos) AS BIGINT) AS n_pos,
           |    CAST(sum(neg) AS BIGINT) AS n_neg,
           |    CAST(sum(pos * (2*nb + neg)) AS BIGINT) AS u2
           |  FROM r GROUP BY 1)
           |SELECT g AS o_orderpriority, n_pos, n_neg,
           |  CASE WHEN n_pos > 0 AND n_neg > 0
           |       THEN (u2 * 1000000) // (2 * n_pos * n_neg) END AS auc_ppm
           |FROM a""".stripMargin))

  /** Precision/recall/F1 at four price thresholds per priority
    * ([[graft.ops.EvalOps.prAtThresholds]]): one read of the eval set
    * serves every threshold (literal-array explode); all ratios in
    * exact millionths.
    */
  private val a20PrThresholds = Q(
    "a20_pr_thresholds",
    (s, d) => graft.ops.EvalOps.prAtThresholds(
      T.orders(s, d), Seq("o_orderpriority"), "o_totalprice",
      col("o_orderstatus") === "F",
      Seq(100000.0, 200000.0, 300000.0, 400000.0)),
    Some("""WITH t AS (SELECT unnest([100000.0, 200000.0, 300000.0, 400000.0]::DOUBLE[]) AS threshold),
           |a AS (SELECT o_orderpriority, threshold,
           |    CAST(sum(CASE WHEN o_orderstatus = 'F' AND o_totalprice >= threshold
           |      THEN 1 ELSE 0 END) AS BIGINT) AS tp,
           |    CAST(sum(CASE WHEN o_orderstatus <> 'F' AND o_totalprice >= threshold
           |      THEN 1 ELSE 0 END) AS BIGINT) AS fp,
           |    CAST(sum(CASE WHEN o_orderstatus = 'F' AND o_totalprice < threshold
           |      THEN 1 ELSE 0 END) AS BIGINT) AS fn
           |  FROM orders, t GROUP BY 1, 2)
           |SELECT o_orderpriority, threshold, tp, fp, fn,
           |  CASE WHEN tp + fp > 0 THEN (tp * 1000000) // (tp + fp) END AS precision_ppm,
           |  CASE WHEN tp + fn > 0 THEN (tp * 1000000) // (tp + fn) END AS recall_ppm,
           |  CASE WHEN 2*tp + fp + fn > 0
           |       THEN (2 * tp * 1000000) // (2*tp + fp + fn) END AS f1_ppm
           |FROM a""".stripMargin))

  /** Fixed-iteration integer-exact PageRank over the order→part
    * bipartite graph ([[graft.ops.GraphOps.pagerankMicro]], 3 rounds,
    * micro-unit scores) — the iterative join+aggregate family's
    * score-propagation member (CC and k-means are the other two). Node
    * ids disambiguate the two key spaces by parity (2k vs 2k+1); the
    * oracle unrolls the same three integer rounds as CTEs. Top-100 by
    * (pr, node) — a distributed TakeOrdered, never a global sort.
    */
  private val g4Pagerank = Q(
    "g4_pagerank",
    (s, d) => {
      val edges = T.lineitem(s, d).select(
        (col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      graft.ops.GraphOps.pagerankMicro(edges, "src", "dst", iters = 3)
        .orderBy(col("pr").desc, col("node")).limit(100)
    },
    Some("""WITH e AS (SELECT l_orderkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem),
           |n AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
           |od AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
           |p0 AS (SELECT node, CAST(1000000 AS BIGINT) AS pr FROM n),
           |c1 AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
           |  FROM e JOIN p0 p ON e.src = p.node JOIN od o ON e.src = o.src GROUP BY 1),
           |p1 AS (SELECT n.node, CAST(150000 + (850000 * COALESCE(c.m, 0)) // 1000000 AS BIGINT) AS pr
           |  FROM n LEFT JOIN c1 c USING (node)),
           |c2 AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
           |  FROM e JOIN p1 p ON e.src = p.node JOIN od o ON e.src = o.src GROUP BY 1),
           |p2 AS (SELECT n.node, CAST(150000 + (850000 * COALESCE(c.m, 0)) // 1000000 AS BIGINT) AS pr
           |  FROM n LEFT JOIN c2 c USING (node)),
           |c3 AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
           |  FROM e JOIN p2 p ON e.src = p.node JOIN od o ON e.src = o.src GROUP BY 1),
           |p3 AS (SELECT n.node, CAST(150000 + (850000 * COALESCE(c.m, 0)) // 1000000 AS BIGINT) AS pr
           |  FROM n LEFT JOIN c3 c USING (node))
           |SELECT node, pr FROM p3 ORDER BY pr DESC, node LIMIT 100""".stripMargin))

  /** Per-node triangle counts over the 1995 part co-purchase graph
    * ([[graft.ops.GraphOps.triangleCounts]]): parts are adjacent when
    * some 1995 order contains both, and the degree-ordered orientation
    * bounds wedge fan-out by O(√m) per node — the O(m^{3/2})
    * node-iterator algorithm as three equi-joins. The year scopes the
    * graph the way a real co-purchase analysis would (the unfiltered
    * co-occurrence graph at this SF is near-complete over only 20k
    * parts — degree ~90 — which measures wedge explosion, not the
    * operator; the 1995 slice keeps 181k edges / 241k triangles at
    * sf0.1). The o_orderdate predicate pushes to the orders scan and
    * the orderkey semi-join broadcasts. Integer-exact, so the oracle
    * replays the identical orientation and wedge-close steps. Top-100
    * by (tri, node) — a distributed TakeOrdered.
    */
  /** 1995 part co-purchase edges (parts sharing a 1995 order) — shared
    * by the g5 battery query and the volume probe, whose laws need the
    * UNLIMITED per-node counts the top-100 battery row truncates.
    */
  private[graft] def coPurchaseEdges1995(s: SparkSession, d: String): DataFrame = {
    val ok95 = T.orders(s, d)
      .where(col("o_orderdate").between("1995-01-01", "1995-12-31"))
      .select(col("o_orderkey").as("l_orderkey"))
    val li = T.lineitem(s, d).select(col("l_orderkey"), col("l_partkey"))
      .join(ok95, Seq("l_orderkey"), "left_semi")
    li.join(
        li.select(col("l_orderkey"), col("l_partkey").as("l_partkey2")),
        Seq("l_orderkey"))
      .where(col("l_partkey") < col("l_partkey2"))
  }

  private val g5TriangleCount = Q(
    "g5_triangle_count",
    (s, d) => graft.ops.GraphOps
      .triangleCounts(coPurchaseEdges1995(s, d), "l_partkey", "l_partkey2")
      .orderBy(col("tri").desc, col("node")).limit(100),
    Some("""WITH li AS (SELECT l_orderkey, l_partkey FROM lineitem
           |  WHERE l_orderkey IN (SELECT o_orderkey FROM orders
           |    WHERE o_orderdate BETWEEN '1995-01-01' AND '1995-12-31')),
           |e0 AS (SELECT DISTINCT l1.l_partkey AS a, l2.l_partkey AS b
           |  FROM li l1 JOIN li l2 ON l1.l_orderkey = l2.l_orderkey
           |  WHERE l1.l_partkey < l2.l_partkey),
           |deg AS (SELECT n, count(*) AS deg FROM
           |  (SELECT a AS n FROM e0 UNION ALL SELECT b AS n FROM e0) GROUP BY 1),
           |o AS (SELECT
           |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
           |         THEN e0.a ELSE e0.b END AS u,
           |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
           |         THEN e0.b ELSE e0.a END AS v,
           |    CASE WHEN da.deg < db.deg OR (da.deg = db.deg AND e0.a < e0.b)
           |         THEN db.deg ELSE da.deg END AS dv
           |  FROM e0 JOIN deg da ON e0.a = da.n JOIN deg db ON e0.b = db.n),
           |w AS (SELECT o1.u, o1.v AS x, o2.v AS y FROM o o1 JOIN o o2 ON o1.u = o2.u
           |  WHERE o1.dv < o2.dv OR (o1.dv = o2.dv AND o1.v < o2.v)),
           |t AS (SELECT w.u, w.x, w.y FROM w JOIN o ON w.x = o.u AND w.y = o.v),
           |pn AS (SELECT u AS node FROM t UNION ALL SELECT x FROM t
           |       UNION ALL SELECT y FROM t)
           |SELECT node, count(*) AS tri FROM pn GROUP BY 1
           |ORDER BY tri DESC, node LIMIT 100""".stripMargin))

  /** Personalized PageRank
    * ([[graft.ops.GraphOps.personalizedPagerankMicro]], 3 rounds):
    * teleport mass pinned to the %500 seed orders on g4's bipartite
    * graph — proximity-to-seeds ranking, integer-exact like g4, so the
    * oracle unrolls the same three rounds with the seed-only base.
    */
  private val g19PersonalizedPagerank = Q(
    "g19_personalized_pagerank",
    (s, d) => {
      val edges = T.lineitem(s, d).select(
        (col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val seeds = T.orders(s, d).where(col("o_orderkey") % 500 === 0)
        .select((col("o_orderkey") * 2).as("node"))
      graft.ops.GraphOps.personalizedPagerankMicro(
          edges, "src", "dst", seeds, "node", iters = 3)
        .orderBy(col("pr").desc, col("node")).limit(100)
    },
    Some("""WITH e AS (SELECT l_orderkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem),
           |n AS (SELECT DISTINCT src AS node FROM e UNION SELECT DISTINCT dst FROM e),
           |sds AS (SELECT DISTINCT o_orderkey*2 AS node FROM orders
           |  WHERE o_orderkey % 500 = 0),
           |od AS (SELECT src, count(*) AS od FROM e GROUP BY 1),
           |nb AS (SELECT n.node,
           |    CASE WHEN s.node IS NOT NULL THEN 150000 ELSE 0 END AS base,
           |    CASE WHEN s.node IS NOT NULL THEN CAST(1000000 AS BIGINT)
           |         ELSE CAST(0 AS BIGINT) END AS pr0
           |  FROM n LEFT JOIN sds s USING (node)),
           |c1 AS (SELECT e.dst AS node, SUM(p.pr0 // o.od) AS m
           |  FROM e JOIN nb p ON e.src = p.node JOIN od o ON e.src = o.src GROUP BY 1),
           |p1 AS (SELECT nb.node, nb.base, CAST(nb.base + (850000 * COALESCE(c.m, 0)) // 1000000 AS BIGINT) AS pr
           |  FROM nb LEFT JOIN c1 c USING (node)),
           |c2 AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
           |  FROM e JOIN p1 p ON e.src = p.node JOIN od o ON e.src = o.src GROUP BY 1),
           |p2 AS (SELECT p1.node, p1.base, CAST(p1.base + (850000 * COALESCE(c.m, 0)) // 1000000 AS BIGINT) AS pr
           |  FROM p1 LEFT JOIN c2 c USING (node)),
           |c3 AS (SELECT e.dst AS node, SUM(p.pr // o.od) AS m
           |  FROM e JOIN p2 p ON e.src = p.node JOIN od o ON e.src = o.src GROUP BY 1),
           |p3 AS (SELECT p2.node, CAST(p2.base + (850000 * COALESCE(c.m, 0)) // 1000000 AS BIGINT) AS pr
           |  FROM p2 LEFT JOIN c3 c USING (node))
           |SELECT node, pr FROM p3 ORDER BY pr DESC, node LIMIT 100""".stripMargin))

  /** Multi-source BFS hop distances
    * ([[graft.ops.GraphOps.bfsHops]], ≤4 hops) over the UNDIRECTED
    * order↔part graph (g4's parity-encoded node space, both edge
    * directions): the blast-radius/reachability operator, iterated
    * frontier-join-anti-join with the edge set persisted across
    * rounds. The oracle is an independent formulation — DuckDB's
    * recursive CTE with UNION dedup — so any frontier/visited
    * bookkeeping slip (a node re-labeled at a longer distance, a
    * missed anti-join) hash-mismatches on `min(dist)`.
    */
  private val g17BfsHops = Q(
    "g17_bfs_hops",
    (s, d) => {
      val li = T.lineitem(s, d)
      val fwd = li.select((col("l_orderkey") * 2).as("src"),
        (col("l_partkey") * 2 + 1).as("dst"))
      val edges = fwd.unionAll(fwd.select(col("dst").as("src"),
        col("src").as("dst")))
      val sources = T.orders(s, d).where(col("o_orderkey") % 500 === 0)
        .select((col("o_orderkey") * 2).as("node"))
      graft.ops.GraphOps.bfsHops(edges, "src", "dst", sources, "node",
        maxHops = 4)
    },
    Some("""WITH RECURSIVE
           |e AS (SELECT l_orderkey*2 AS src, l_partkey*2+1 AS dst FROM lineitem
           |  UNION ALL SELECT l_partkey*2+1, l_orderkey*2 FROM lineitem),
           |s AS (SELECT DISTINCT o_orderkey*2 AS node FROM orders
           |  WHERE o_orderkey % 500 = 0),
           |r(node, dist) AS (
           |  SELECT node, 0 FROM s
           |  UNION
           |  SELECT e.dst, r.dist + 1 FROM r JOIN e ON e.src = r.node
           |  WHERE r.dist < 4)
           |SELECT node, CAST(min(dist) AS INT) AS dist FROM r GROUP BY 1""".stripMargin))

  /** Last-touch attribution with a 7-day TTL
    * ([[graft.relational.RelationalOps.lastTouchAttribution]]): each
    * purchase attributes to the user's most recent view/click strictly
    * before it; stale touches (> 7 days) and untouched purchases land
    * in the organic (null-channel) bucket. ONE carry window — the
    * oracle replays the same `last_value IGNORE NULLS` carry and TTL
    * arithmetic (unix-seconds floors on both sides).
    */
  private val g18Attribution = Q(
    "g18_attribution",
    (s, d) => graft.relational.RelationalOps.lastTouchAttribution(
      T.events(s, d), Seq("user_id"), "ts", Seq("event_id"),
      isTouch = col("event_type").isin("view", "click"),
      isConversion = col("event_type") === "purchase",
      channelCol = col("event_type"), ttlSeconds = 604800L),
    Some("""WITH e AS (SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN event_type IN ('view', 'click')
           |         THEN struct_pack(t := ts, ch := event_type) END AS tch
           |  FROM events),
           |cw AS (SELECT *, last_value(tch IGNORE NULLS) OVER (
           |    PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
           |  FROM e)
           |SELECT user_id, ts, event_id,
           |  CASE WHEN lt IS NOT NULL AND
           |    CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lt.t)) AS BIGINT) <= 604800
           |    THEN lt.ch END AS channel,
           |  CASE WHEN lt IS NOT NULL AND
           |    CAST(floor(epoch(ts)) AS BIGINT) - CAST(floor(epoch(lt.t)) AS BIGINT) <= 604800
           |    THEN lt.t END AS touch_ts
           |FROM cw WHERE event_type = 'purchase'""".stripMargin))

  /** Ordered view→click→purchase funnel per user
    * ([[graft.relational.RelationalOps.funnel]]): earliest view, then
    * earliest click strictly after it, then earliest purchase strictly
    * after that — chained running-min windows and the final per-user
    * aggregate all on ONE user_id shuffle. The oracle replays the
    * same running-min cascade.
    */
  private val g6Funnel = Q(
    "g6_funnel",
    (s, d) => graft.relational.RelationalOps.funnel(
      T.events(s, d), Seq("user_id"), "ts", Seq("event_id"),
      Seq(col("event_type") === "view", col("event_type") === "click",
        col("event_type") === "purchase")),
    Some("""WITH s1 AS (SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN event_type = 'view' THEN ts END AS t1c FROM events),
           |r1 AS (SELECT *, min(t1c) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS UNBOUNDED PRECEDING) AS rr1 FROM s1),
           |s2 AS (SELECT *, CASE WHEN event_type = 'click' AND rr1 IS NOT NULL
           |    AND ts > rr1 THEN ts END AS t2c FROM r1),
           |r2 AS (SELECT *, min(t2c) OVER (PARTITION BY user_id ORDER BY ts, event_id
           |    ROWS UNBOUNDED PRECEDING) AS rr2 FROM s2),
           |s3 AS (SELECT *, CASE WHEN event_type = 'purchase' AND rr2 IS NOT NULL
           |    AND ts > rr2 THEN ts END AS t3c FROM r2)
           |SELECT user_id, min(t1c) AS t1, min(t2c) AS t2, min(t3c) AS t3,
           |  CAST(CASE WHEN min(t3c) IS NOT NULL THEN 3
           |            WHEN min(t2c) IS NOT NULL THEN 2
           |            WHEN min(t1c) IS NOT NULL THEN 1 ELSE 0 END AS INT) AS depth
           |FROM s3 GROUP BY user_id""".stripMargin))

  /** Cohort retention matrix ([[graft.relational.RelationalOps.retentionMatrix]]):
    * ISO-week cohorts by first event, alignment-free week offsets
    * (⌊Δdays/7⌋ — a pure difference, so a cohort's offsets never
    * depend on where its first events fall inside a calendar week),
    * integer-millionths retained share. Two event-scale shuffles
    * (first-event agg + (user, week) distinct); cohort sizes ride a
    * window over the cohorts × horizon result, never a second pass.
    */
  private val g7Retention = Q(
    "g7_retention",
    (s, d) => graft.relational.RelationalOps.retentionMatrix(
      T.events(s, d), Seq("user_id"), "ts"),
    Some("""WITH f AS (SELECT user_id, min(CAST(ts AS DATE)) AS first_day
           |           FROM events GROUP BY 1),
           |a AS (SELECT DISTINCT e.user_id, f.first_day,
           |    CAST(date_diff('day', f.first_day, CAST(e.ts AS DATE)) // 7 AS INT) AS week_k
           |  FROM events e JOIN f USING (user_id)),
           |c AS (SELECT CAST(date_trunc('week', first_day) AS DATE) AS cohort_week,
           |    week_k, count(*) AS n_active FROM a GROUP BY 1, 2)
           |SELECT cohort_week, week_k, n_active,
           |  max(CASE WHEN week_k = 0 THEN n_active END)
           |    OVER (PARTITION BY cohort_week) AS cohort_size,
           |  n_active * 1000000 // (max(CASE WHEN week_k = 0 THEN n_active END)
           |    OVER (PARTITION BY cohort_week)) AS ret_ppm
           |FROM c""".stripMargin))

  /** First-order event-type transition matrix
    * ([[graft.relational.RelationalOps.transitionMatrix]]): adjacent
    * (from → to) pairs per user under a deterministic (ts, event_id)
    * order, counts plus integer-millionths row-normalized transition
    * probabilities. One window partitioning (`lead`), one |states|²-
    * bounded groupBy; the normalizing totals ride a window over that
    * tiny result.
    */
  private val g8Transitions = Q(
    "g8_transitions",
    (s, d) => graft.relational.RelationalOps.transitionMatrix(
      T.events(s, d), Seq("user_id"), "ts", Seq("event_id"), "event_type"),
    Some("""WITH s AS (SELECT user_id, event_type,
           |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
           |  FROM events),
           |c AS (SELECT event_type AS from_state, to_state, count(*) AS n
           |  FROM s WHERE to_state IS NOT NULL GROUP BY 1, 2)
           |SELECT from_state, to_state, n,
           |  CAST(sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS from_total,
           |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS p_ppm
           |FROM c""".stripMargin))

  /** Top-k session journeys ([[graft.relational.RelationalOps.sessionPaths]]):
    * gap-sessionized (30 min) event-type paths ranked by frequency —
    * deterministic path strings via struct-sorted collect, top-20 as
    * a distributed TakeOrdered.
    */
  private val g9SessionPaths = Q(
    "g9_session_paths",
    (s, d) => graft.relational.RelationalOps.sessionPaths(
      T.events(s, d), Seq("user_id"), "ts", gapSeconds = 1800L,
      orderCols = Seq("ts", "event_id"), stateCol = "event_type", k = 20),
    Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN lag(ts) OVER w IS NULL
           |           OR epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000
           |         THEN 1 ELSE 0 END AS is_new
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |s AS (SELECT *, sum(is_new) OVER (PARTITION BY user_id
           |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS session_seq
           |      FROM o),
           |p AS (SELECT user_id, session_seq,
           |        string_agg(event_type, '>' ORDER BY ts, event_id) AS path
           |      FROM s GROUP BY 1, 2)
           |SELECT path, count(*) AS n FROM p GROUP BY 1
           |ORDER BY n DESC, path LIMIT 20""".stripMargin))

  /** Consecutive-state runs ([[graft.relational.RelationalOps.streaks]]):
    * maximal same-event-type runs of length ≥ 3 per user — the
    * gaps-and-islands streak detector, one key shuffle.
    */
  private val g10Streaks = Q(
    "g10_streaks",
    (s, d) => graft.relational.RelationalOps.streaks(
      T.events(s, d), Seq("user_id"), "ts",
      orderCols = Seq("event_id"), stateCol = "event_type", minLen = 3L)
      .select(col("user_id"), col("event_type"), col("streak_seq"),
        col("streak_len"), col("streak_start"), col("streak_end")),
    Some("""WITH o AS (SELECT user_id, ts, event_id, event_type,
           |    CASE WHEN row_number() OVER w = 1
           |           OR event_type IS DISTINCT FROM lag(event_type) OVER w
           |         THEN 1 ELSE 0 END AS chg
           |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY user_id
           |        ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS BIGINT) AS streak_seq
           |      FROM o)
           |SELECT user_id, event_type, streak_seq, count(*) AS streak_len,
           |  min(ts) AS streak_start, max(ts) AS streak_end
           |FROM r GROUP BY 1, 2, 3 HAVING count(*) >= 3""".stripMargin))

  /** Per-user exponentially-smoothed value state
    * ([[graft.relational.RelationalOps.ewmaState]]): the α = ½
    * integer-floor recurrence as a higher-order `aggregate` fold over
    * the struct-sorted sequence; the oracle replays it with DuckDB's
    * `list_reduce` — identical s₁ = v₁ seed semantics.
    */
  private val g11Ewma = Q(
    "g11_ewma",
    (s, d) => graft.relational.RelationalOps.ewmaState(
      T.events(s, d), Seq("user_id"), "ts", Seq("event_id"),
      (col("value").cast("decimal(18,2)") * 100).cast("long")),
    Some("""WITH o AS (SELECT user_id, ts, event_id,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
           |  FROM events WHERE value IS NOT NULL),
           |s AS (SELECT user_id, list(cents ORDER BY ts, event_id) AS vs,
           |    count(*) AS n_events FROM o GROUP BY 1)
           |SELECT user_id, n_events,
           |  list_reduce(vs, (a, b) -> (a + b) // 2) AS ewma_units
           |FROM s""".stripMargin))

  /** Linear interpolation onto the daily spine
    * ([[graft.relational.RelationalOps.interpolateGaps]]): each user's
    * silent days get the integer-floor linear blend of the bracketing
    * observations — the smooth-fill twin of g3's LOCF. Integer cents
    * keep the ⌊(vp·(n−d)+vn·(d−p))/(n−p)⌋ formula engine-exact (both
    * sides floor-divide non-negative numerators).
    */
  private val g12Interpolate = Q(
    "g12_interpolate",
    (s, d) => {
      val daily = T.events(s, d).where(col("value").isNotNull)
        .groupBy(col("user_id"),
          to_date(date_trunc("DAY", col("ts"))).as("day"))
        .agg(sum((col("value").cast("decimal(18,2)") * 100).cast("long"))
          .as("day_units"))
      graft.relational.RelationalOps.interpolateGaps(
        daily, Seq("user_id"), "day", "day_units")
    },
    Some("""WITH daily AS (SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
           |    CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS day_units
           |  FROM events WHERE value IS NOT NULL GROUP BY 1, 2),
           |span AS (SELECT user_id, min(day) AS d0, max(day) AS d1 FROM daily GROUP BY 1),
           |spine AS (SELECT user_id, CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
           |  FROM span),
           |j AS (SELECT s.user_id, s.day, d.day_units
           |  FROM spine s LEFT JOIN daily d ON s.user_id = d.user_id AND s.day = d.day),
           |c AS (SELECT *,
           |    last_value(day_units IGNORE NULLS) OVER wb AS pv,
           |    last_value(CASE WHEN day_units IS NOT NULL THEN day END IGNORE NULLS) OVER wb AS pd,
           |    first_value(day_units IGNORE NULLS) OVER wf AS nv,
           |    first_value(CASE WHEN day_units IS NOT NULL THEN day END IGNORE NULLS) OVER wf AS nd
           |  FROM j WINDOW
           |    wb AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
           |    wf AS (PARTITION BY user_id ORDER BY day ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
           |SELECT user_id, day, day_units,
           |  CASE WHEN day_units IS NOT NULL THEN day_units
           |       ELSE (pv * (nd - day) + nv * (day - pd)) // (nd - pd)
           |  END AS units_interp
           |FROM c""".stripMargin))

  /** Within-basket co-occurrence with per-item top-k neighbors
    * ([[graft.relational.RelationalOps.coOccurrenceTopK]]): parts that
    * ship together on the same order, ranked per part — basket-
    * quadratic (TPC-H baskets ≤ 7 lines), never corpus-quadratic.
    */
  private val g13Cooccurrence = Q(
    "g13_cooccurrence",
    (s, d) => graft.relational.RelationalOps.coOccurrenceTopK(
      T.lineitem(s, d), "l_orderkey", "l_partkey", k = 5)
      .select(col("item"), col("other"), col("n_co"),
        col("rnk").cast("int").as("rnk")),
    Some("""WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
           |pairs AS (SELECT a.l_partkey AS x, b.l_partkey AS y, count(*) AS n_co
           |  FROM items a JOIN items b
           |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           |  GROUP BY 1, 2),
           |sym AS (SELECT x AS item, y AS other, n_co FROM pairs
           |  UNION ALL SELECT y, x, n_co FROM pairs)
           |SELECT item, other, n_co, CAST(rnk AS INT) AS rnk
           |FROM (SELECT *, row_number() OVER (PARTITION BY item
           |        ORDER BY n_co DESC, other) AS rnk FROM sym)
           |WHERE rnk <= 5""".stripMargin))

  /** Time-weighted average value per user
    * ([[graft.relational.RelationalOps.timeWeightedAvg]]): each
    * reading's cents held until the next reading, ⌊Σ v·dt / Σ dt⌋ in
    * exact integer arithmetic; single-instant users fall back to their
    * first reading.
    */
  private val g14Twap = Q(
    "g14_twap",
    (s, d) => graft.relational.RelationalOps.timeWeightedAvg(
      T.events(s, d), Seq("user_id"), "ts", Seq("event_id"),
      (col("value").cast("decimal(18,2)") * 100).cast("long")),
    Some("""WITH o AS (SELECT user_id, ts, event_id,
           |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
           |  FROM events WHERE value IS NOT NULL),
           |w AS (SELECT user_id, v,
           |    lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER win
           |      - CAST(floor(epoch(ts)) AS BIGINT) AS dt
           |  FROM o WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)),
           |f AS (SELECT user_id, list(v ORDER BY ts, event_id)[1] AS f0
           |  FROM o GROUP BY 1)
           |SELECT w.user_id,
           |  CAST(count(*) AS BIGINT) AS n_readings,
           |  CASE WHEN COALESCE(CAST(SUM(dt) AS BIGINT), 0) > 0
           |       THEN CAST(SUM(v * dt) AS BIGINT) // CAST(SUM(dt) AS BIGINT)
           |       ELSE any_value(f.f0) END AS twap_units
           |FROM w JOIN f ON w.user_id = f.user_id
           |GROUP BY 1""".stripMargin))

  /** Peak concurrency by sweep line
    * ([[graft.relational.RelationalOps.peakConcurrency]]): maximum
    * simultaneously-open shipment windows [ship, ship+quantity days)
    * per supplier, and the earliest instant the peak is reached — the
    * classic interval-overlap operator, one key shuffle end-to-end.
    */
  private val g15PeakConcurrency = Q(
    "g15_peak_concurrency",
    (s, d) => {
      val iv = T.lineitem(s, d).select(
        col("l_suppkey"),
        to_date(col("l_shipdate")).as("s_day"),
        date_add(to_date(col("l_shipdate")),
          col("l_quantity").cast("int")).as("e_day"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("iid"))
      graft.relational.RelationalOps.peakConcurrency(
        iv, Seq("l_suppkey"), "s_day", "e_day", "iid")
    },
    Some("""WITH base AS (SELECT l_suppkey,
           |    CAST(l_shipdate AS DATE) AS s_day,
           |    CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e_day,
           |    l_orderkey * 10 + l_linenumber AS iid
           |  FROM lineitem
           |  WHERE CAST(l_shipdate AS DATE) < CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT)),
           |d AS (SELECT l_suppkey, s_day AS t, CAST(1 AS BIGINT) AS dd, iid FROM base
           |  UNION ALL SELECT l_suppkey, e_day, CAST(-1 AS BIGINT), iid FROM base),
           |r AS (SELECT l_suppkey, t,
           |    CAST(sum(dd) OVER (PARTITION BY l_suppkey ORDER BY t, dd, iid
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS run
           |  FROM d),
           |p AS (SELECT *, max(run) OVER (PARTITION BY l_suppkey) AS peak FROM r)
           |SELECT l_suppkey, CAST(max(run) AS BIGINT) AS peak, min(t) AS peak_at
           |FROM p WHERE run = peak GROUP BY 1""".stripMargin))

  /** Interval union / coverage
    * ([[graft.relational.RelationalOps.intervalUnion]]): merge each
    * supplier's overlapping-or-touching shipment windows (g15's
    * interval set — the dual question: not how DEEP the overlap gets
    * but how WIDE the union is) into disjoint spans; report span
    * count, covered days, and the hull. The oracle replays the
    * prior-max sweep with the same (start, end, id) order.
    */
  private val g16IntervalUnion = Q(
    "g16_interval_union",
    (s, d) => {
      val iv = T.lineitem(s, d).select(
        col("l_suppkey"),
        to_date(col("l_shipdate")).as("s_day"),
        date_add(to_date(col("l_shipdate")),
          col("l_quantity").cast("int")).as("e_day"),
        (col("l_orderkey") * 10 + col("l_linenumber")).as("iid"))
      graft.relational.RelationalOps.intervalUnion(
        iv, Seq("l_suppkey"), "s_day", "e_day", "iid",
        (lo, hi) => datediff(hi, lo).cast("long"))
    },
    Some("""WITH base AS (SELECT l_suppkey,
           |    CAST(l_shipdate AS DATE) AS s_day,
           |    CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT) AS e_day,
           |    l_orderkey * 10 + l_linenumber AS iid
           |  FROM lineitem
           |  WHERE CAST(l_shipdate AS DATE) < CAST(l_shipdate AS DATE) + CAST(l_quantity AS INT)),
           |f AS (SELECT *, max(e_day) OVER (PARTITION BY l_suppkey
           |    ORDER BY s_day, e_day, iid
           |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM base),
           |g AS (SELECT *, CASE WHEN pmax IS NULL OR pmax < s_day
           |    THEN 1 ELSE 0 END AS newg FROM f),
           |gg AS (SELECT *, sum(newg) OVER (PARTITION BY l_suppkey
           |    ORDER BY s_day, e_day, iid ROWS UNBOUNDED PRECEDING) AS grp FROM g),
           |m AS (SELECT l_suppkey, grp, min(s_day) AS lo, max(e_day) AS hi
           |  FROM gg GROUP BY 1, 2)
           |SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n_spans,
           |  CAST(sum(hi - lo) AS BIGINT) AS covered,
           |  min(lo) AS hull_start, max(hi) AS hull_end
           |FROM m GROUP BY 1""".stripMargin))

  /** Date/time scalar functions over the event stream: truncation,
    * field extraction, interval arithmetic, epoch (engine surface —
    * the reference keeps ages as day counts, SURVEY §2.6 note).
    */
  private val f6Datetime = Q(
    "f6_datetime",
    (s, d) => T.events(s, d).select(
      col("event_id"),
      date_trunc("hour", col("ts")).as("ts_hour"),
      year(col("ts")).cast("long").as("y"),
      month(col("ts")).cast("long").as("m"),
      dayofweek(col("ts")).cast("long").as("dow"),
      (col("ts") + expr("INTERVAL 90 MINUTES")).as("ts_plus"),
      unix_timestamp(col("ts")).as("epoch_s")),
    Some("""SELECT event_id,
           |  date_trunc('hour', ts) AS ts_hour,
           |  CAST(year(ts) AS BIGINT) AS y,
           |  CAST(month(ts) AS BIGINT) AS m,
           |  CAST(dayofweek(ts) + 1 AS BIGINT) AS dow,
           |  ts + INTERVAL 90 MINUTE AS ts_plus,
           |  CAST(floor(epoch(ts)) AS BIGINT) AS epoch_s
           |FROM events""".stripMargin))

  /** Sort + limit / top-k with unique tiebreak (SURVEY §2.5). */
  /** Group-wise top-k (rank window + filter — the per-group analog of
    * the global TakeOrdered; no global sort at any scale).
    */
  private val w3TopKPerGroup = Q(
    "w3_topk_per_group",
    (s, d) => {
      val w = Window.partitionBy(col("o_orderstatus"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      T.orders(s, d)
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 3)
        .select(col("o_orderstatus"), col("rnk").cast("int").as("rnk"),
          col("o_orderkey"), col("o_totalprice"))
    },
    Some("""SELECT o_orderstatus, CAST(rnk AS INT) AS rnk, o_orderkey, o_totalprice
           |FROM (SELECT *, row_number() OVER (PARTITION BY o_orderstatus
           |        ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders)
           |WHERE rnk <= 3""".stripMargin))

  /** Pivot: one column per order status holding that status's decimal-
    * pinned revenue (groupBy().pivot() — conditional aggregation under
    * the hood, one shuffle, explicit value list so no discovery pass).
    */
  private val a9Pivot = Q(
    "a9_pivot",
    (s, d) => T.orders(s, d)
      .groupBy(col("o_orderpriority"))
      .pivot("o_orderstatus", Seq("F", "O", "P"))
      .agg(decSum(col("o_totalprice")))
      .toDF("o_orderpriority", "rev_f", "rev_o", "rev_p"),
    Some("""SELECT o_orderpriority,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'F') AS DOUBLE) AS rev_f,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'O') AS DOUBLE) AS rev_o,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) FILTER (o_orderstatus = 'P') AS DOUBLE) AS rev_p
           |FROM orders GROUP BY o_orderpriority""".stripMargin))

  /** Unpivot (wide → long, the inverse of a9): one row per (key,
    * metric) — `unpivot` is a Generate-free Expand, pure narrow.
    */
  private val a10Unpivot = Q(
    "a10_unpivot",
    (s, d) => T.customer(s, d)
      .select(col("c_custkey"), col("c_acctbal"),
        col("c_nationkey").cast("double").as("c_nation_d"))
      .unpivot(Array(col("c_custkey")),
        Array(col("c_acctbal"), col("c_nation_d")), "metric", "val"),
    Some("""SELECT c_custkey, 'c_acctbal' AS metric, c_acctbal AS val FROM customer
           |UNION ALL
           |SELECT c_custkey, 'c_nation_d' AS metric, CAST(c_nationkey AS DOUBLE) AS val FROM customer""".stripMargin))

  private val topK = Q(
    "topk_sort_limit",
    (s, d) => T.orders(s, d)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey", "o_totalprice", "o_orderpriority")
      .limit(100),
    Some("""SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders
           |ORDER BY o_totalprice DESC, o_orderkey LIMIT 100""".stripMargin))

  /** Set operations (SURVEY §2.5): symmetric difference via
    * union-distinct / intersect / except.
    */
  private val setOps = Q(
    "setops_symmetric_diff",
    (s, d) => {
      val c = T.customer(s, d)
      val a = c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val b = c.filter(col("c_acctbal") > 5000).select("c_custkey")
      a.union(b).distinct().except(a.intersect(b))
    },
    Some("""(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           | UNION
           | SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
           |EXCEPT
           |(SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
           | INTERSECT
           | SELECT c_custkey FROM customer WHERE c_acctbal > 5000)""".stripMargin))

  // ------------------------------------------------------ scalar functions

  /** F1–F4 — split / trim / prefix test / concat (research_study.py:76-79,
    * drs_document_reference.py:326-329,377).
    */
  private val fScalar = Q(
    "f_scalar_string",
    (s, d) => T.part(s, d).select(
      col("p_partkey"),
      split(col("p_name"), " ").getItem(0).as("first_word"),
      substring_index(col("p_name"), " ", -1).as("last_word"),
      upper(trim(col("p_brand"))).as("brand_uc"),
      col("p_type").startsWith("PROMO").as("is_promo"),
      concat_ws("/", col("p_brand"), col("p_type")).as("path"),
      tolerantCast(split(col("p_brand"), "#").getItem(1), "int").as("brand_num")),
    Some("""SELECT p_partkey,
           |  string_split(p_name, ' ')[1] AS first_word,
           |  string_split(p_name, ' ')[-1] AS last_word,
           |  upper(trim(p_brand)) AS brand_uc,
           |  (p_type LIKE 'PROMO%') AS is_promo,
           |  concat_ws('/', p_brand, p_type) AS path,
           |  TRY_CAST(string_split(p_brand, '#')[2] AS INT) AS brand_num
           |FROM part""".stripMargin))

  /** F8 engine surface — array manipulation battery: distinct, sort,
    * slice, reverse over the tokenized part name (all narrow, codegen'd;
    * results re-joined to strings so array encodings can't matter).
    */
  private val f13ArrayOps = Q(
    "f13_array_ops",
    (s, d) => {
      val words = split(col("p_name"), " ")
      T.part(s, d).select(
        col("p_partkey"),
        array_join(array_sort(array_distinct(words)), ",").as("words_sorted"),
        size(array_distinct(words)).cast("long").as("n_distinct_words"),
        array_join(slice(words, 1, 2), ",").as("first_two"),
        array_join(reverse(words), ",").as("rev"))
    },
    Some("""SELECT p_partkey,
           |  array_to_string(list_sort(list_distinct(string_split(p_name, ' '))), ',') AS words_sorted,
           |  CAST(len(list_distinct(string_split(p_name, ' '))) AS BIGINT) AS n_distinct_words,
           |  array_to_string(string_split(p_name, ' ')[1:2], ',') AS first_two,
           |  array_to_string(list_reverse(string_split(p_name, ' ')), ',') AS rev
           |FROM part""".stripMargin))

  /** F5 — failure-tolerant casts: Spark cast yields null on failure,
    * matching the reference's try/except-omit (disease.py:161-194).
    */
  private val f5Cast = Q(
    "f5_try_cast",
    (s, d) => T.events(s, d).select(
      col("event_id"),
      tolerantCast(regexp_extract(col("props"), "\"k\": (\\d+)", 1), "int").as("k"),
      tolerantCast(col("event_type"), "int").as("type_as_int"),
      floor(col("value")).cast("int").as("value_floor")),
    Some("""SELECT event_id,
           |  TRY_CAST(regexp_extract(props, '"k": (\d+)', 1) AS INT) AS k,
           |  TRY_CAST(event_type AS INT) AS type_as_int,
           |  CAST(floor(value) AS INT) AS value_floor
           |FROM events""".stripMargin))

  /** The SQL entry point: the same engine surface through `spark.sql`
    * over registered temp views (TPC-H Q3-shaped: 3-way join + agg +
    * top-k). Everything the DataFrame battery checks — pushdown,
    * broadcast of the dim side, partial agg — must hold identically
    * when the plan arrives as SQL text.
    */
  private val q3Sql = Q(
    "q3_sql_topk",
    (s, d) => {
      T.customer(s, d).createOrReplaceTempView("g_customer")
      T.orders(s, d).createOrReplaceTempView("g_orders")
      T.lineitem(s, d).createOrReplaceTempView("g_lineitem")
      s.sql("""SELECT l_orderkey,
              |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
              |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
              |  o_orderdate, o_orderpriority
              |FROM g_customer JOIN g_orders ON c_custkey = o_custkey
              |JOIN g_lineitem ON l_orderkey = o_orderkey
              |WHERE c_mktsegment = 'BUILDING'
              |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
              |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
              |GROUP BY l_orderkey, o_orderdate, o_orderpriority
              |ORDER BY revenue DESC, l_orderkey
              |LIMIT 10""".stripMargin)
    },
    Some("""SELECT l_orderkey,
           |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) *
           |    (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS revenue,
           |  o_orderdate, o_orderpriority
           |FROM customer JOIN orders ON c_custkey = o_custkey
           |JOIN lineitem ON l_orderkey = o_orderkey
           |WHERE c_mktsegment = 'BUILDING'
           |  AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
           |  AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
           |GROUP BY l_orderkey, o_orderdate, o_orderpriority
           |ORDER BY revenue DESC, l_orderkey
           |LIMIT 10""".stripMargin))

  /** F9 + P4 — map construction, null-entry dropping (`drop_none`,
    * common/utils.py:23-24) and map iteration into one row per entry
    * (`hash_dict.items()`, drs_document_reference.py:359-369): build a
    * map from columns, `map_filter` out null values, explode
    * `map_entries`.
    */
  private val f9MapExplode = Q(
    "f9_map_explode",
    (s, d) => {
      val m = map(
        lit("priority"), col("o_orderpriority"),
        lit("status"), when(col("o_orderkey") % 3 === 0, col("o_orderstatus")))
      T.orders(s, d)
        .select(col("o_orderkey"),
          explode(map_filter(m, (_, v) => v.isNotNull)))
        .toDF("o_orderkey", "k", "v")
    },
    Some("""SELECT o_orderkey, 'priority' AS k, o_orderpriority AS v FROM orders
           |UNION ALL
           |SELECT o_orderkey, 'status' AS k, o_orderstatus AS v FROM orders
           |WHERE o_orderkey % 3 = 0""".stripMargin))

  /** F10 read side — JSON parsing: both the path extractor
    * (`get_json_object`) and the schema-full parse (`from_json` into a
    * struct), over the events props column.
    */
  private val f12Json = Q(
    "f12_json_extract",
    (s, d) => T.events(s, d).select(
      col("event_id"),
      get_json_object(col("props"), "$.k").cast("int").as("k_path"),
      from_json(col("props"), org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType))))
        .getField("k").as("k_struct")),
    Some("""SELECT event_id,
           |  CAST(props->>'$.k' AS INT) AS k_path,
           |  CAST(props->>'$.k' AS INT) AS k_struct
           |FROM events""".stripMargin))

  // --------------------------------------------------- time windows (§2.7)

  /** Tumbling window aggregate over the events table — batch form of the
    * Structured Streaming pipeline (stream/batch parity, SURVEY §2.7).
    */
  private val twTumbling = Q(
    "tw_tumbling_window",
    (s, d) => T.events(s, d)
      .groupBy(window(col("ts"), "5 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), decSum(col("value")).as("total"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("total")),
    Some("""SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type,
           |  count(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM events GROUP BY 1, 2""".stripMargin))

  /** Per-window top-k event types
    * ([[graft.streaming.Streaming.windowedTopK]], 15-min windows,
    * k = 3): rank over the windowed aggregate with a deterministic
    * (count desc, type asc) order — the trending-now leaderboard; the
    * streaming deployment applies the same ranking per micro-batch in
    * foreachBatch (StreamingSpec).
    */
  private val twWindowedTopK = Q(
    "tw_windowed_topk",
    (s, d) => graft.streaming.Streaming.windowedTopK(
      T.events(s, d), "15 minutes", k = 3),
    Some("""WITH c AS (SELECT time_bucket(INTERVAL '15 minutes', ts) AS ws,
           |    time_bucket(INTERVAL '15 minutes', ts) + INTERVAL '15 minutes' AS we,
           |    event_type, count(*) AS n,
           |    CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |  FROM events GROUP BY 1, 2, 3)
           |SELECT ws, we,
           |  CAST(row_number() OVER (PARTITION BY ws ORDER BY n DESC, event_type) AS INT) AS rnk,
           |  event_type, n
           |FROM c QUALIFY rnk <= 3""".stripMargin))

  /** Chained stateful aggregations, batch form
    * ([[graft.streaming.Streaming.chainedWindowCounts]]): a 10-min
    * per-user tumbling count re-aggregated into hourly totals — the
    * multiple-stateful-operator chain Spark 3.4+ runs in ONE streaming
    * query (two-batch stream parity in StreamingSpec). The oracle
    * re-derives both window levels.
    */
  private val twChainedWindows = Q(
    "tw_chained_windows",
    (s, d) => graft.streaming.Streaming.chainedWindowCounts(T.events(s, d)),
    Some("""WITH w AS (SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
           |    user_id, count(*) AS n
           |  FROM events GROUP BY 1, 2)
           |SELECT time_bucket(INTERVAL '1 hour', ws) AS hs,
           |  CAST(sum(n) AS BIGINT) AS events, count(*) AS active_slots
           |FROM w GROUP BY 1""".stripMargin))

  /** Sliding window aggregate (10-min windows every 5 min): each event
    * lands in exactly two windows (Expand — narrow fan-out, then the
    * same one-shuffle agg as tumbling). The oracle re-derives both
    * bucketings explicitly.
    */
  private val twSliding = Q(
    "tw_sliding_window",
    (s, d) => graft.streaming.Streaming
      .windowedCounts(T.events(s, d), "10 minutes", Some("5 minutes")),
    Some("""WITH x AS (
           |  SELECT time_bucket(INTERVAL '5 minutes', ts) AS ws, event_type, value FROM events
           |  UNION ALL
           |  SELECT time_bucket(INTERVAL '5 minutes', ts) - INTERVAL '5 minutes', event_type, value FROM events)
           |SELECT ws, ws + INTERVAL '10 minutes' AS we, event_type,
           |  count(*) AS n,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM x GROUP BY ws, event_type""".stripMargin))

  /** Session windows (gap = 30 min) per user — Spark `session_window`
    * vs. a gaps-and-islands oracle. Session end = last event + gap.
    */
  /** As-of join: enrich every event with the value of the user's most
    * recent click at-or-before it — the latest-dimension-state operator
    * Spark lacks natively, composed as union + one window
    * ([[RelationalOps.asofJoin]]); DuckDB's native ASOF JOIN is the
    * oracle.
    */
  private val j14Asof = Q(
    "j14_asof_join",
    (s, d) => {
      val events = T.events(s, d)
      val clicks = events.where(col("event_type") === "click")
        .groupBy(col("user_id"), col("ts"))
        .agg(max(col("value")).as("last_click_value"))
      asofJoin(
        events.select("event_id", "user_id", "ts"),
        clicks, Seq("user_id"), "ts", "ts", Seq("last_click_value"))
        .select("event_id", "user_id", "last_click_value")
    },
    Some("""WITH r AS (SELECT user_id, ts, max(value) AS last_click_value
           |  FROM events WHERE event_type = 'click' GROUP BY user_id, ts)
           |SELECT l.event_id, l.user_id, r.last_click_value
           |FROM events l ASOF LEFT JOIN r
           |  ON l.user_id = r.user_id AND l.ts >= r.ts""".stripMargin))

  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): the
    * opposite null policy from the reference's outer chain (where null
    * keys never match, j_nullkey_outer) — engine surface for joins that
    * treat null as a value.
    *
    * Scale shape: a raw pair-join on this 6-value key is the textbook
    * skew-killer (~90 M intermediate pairs at sf0.1, all on one
    * partition). Since the query only counts pairs per key, both sides
    * are pre-aggregated by `k` first — counts multiply through the
    * join, so ~6 rows meet ~6 rows under the same `<=>` semantics and
    * the answer is identical at any scale.
    */
  private val j16NullSafe = Q(
    "j16_nullsafe_join",
    (s, d) => {
      val l = T.orders(s, d).select(
        when(col("o_orderkey") % 10 === 0, lit(null).cast("string"))
          .otherwise(col("o_orderpriority")).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("nl"))
      val r = T.orders(s, d).where(col("o_orderkey") % 100 < 2)
        .select(
          when(col("o_orderkey") % 10 === 0, lit(null).cast("string"))
            .otherwise(col("o_orderpriority")).as("k"))
        .groupBy(col("k")).agg(count(lit(1)).as("nr"))
      l.join(r, l("k") <=> r("k"))
        // decimal(38,0) product, double at the boundary (the battery's
        // convention): two Long counts can each exceed 4.3e9 at the
        // 100 TB design point, where Long×Long overflows (ANSI mode:
        // runtime error); 38 digits holds any pair of Long counts.
        .select(l("k").as("k"),
          (col("nl").cast("decimal(19,0)") * col("nr").cast("decimal(19,0)"))
            .cast("double").as("n_pairs"))
    },
    Some("""WITH l AS (SELECT o_orderkey,
           |    CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderpriority END AS k
           |  FROM orders),
           |r AS (SELECT o_orderkey AS r_key,
           |    CASE WHEN o_orderkey % 10 = 0 THEN NULL ELSE o_orderpriority END AS k
           |  FROM orders WHERE o_orderkey % 100 < 2)
           |SELECT l.k, CAST(count(*) AS DOUBLE) AS n_pairs
           |FROM l JOIN r ON l.k IS NOT DISTINCT FROM r.k
           |GROUP BY l.k""".stripMargin))

  /** Bucketized interval-containment join: events matched to the login
    * windows containing them via equi-join on (user, time-bucket) +
    * exact BETWEEN — no nested loop ([[RelationalOps.rangeJoin]]).
    */
  private val j15Range = Q(
    "j15_range_join",
    (s, d) => {
      val events = T.events(s, d)
      val windows = events.where(col("event_type") === "login")
        .select(col("event_id").as("login_id"), col("user_id"),
          col("ts").as("w_start"),
          (col("ts") + expr("INTERVAL 30 MINUTES")).as("w_end"))
      rangeJoin(events.select("event_id", "user_id", "ts"), windows,
        Seq("user_id"), "ts", "w_start", "w_end", bucketWidthSeconds = 1800)
        .select("event_id", "user_id", "login_id")
    },
    Some("""SELECT l.event_id, l.user_id, r.login_id
           |FROM events l JOIN (
           |  SELECT event_id AS login_id, user_id, ts AS w_start,
           |         ts + INTERVAL '30 minutes' AS w_end
           |  FROM events WHERE event_type = 'login') r
           |ON l.user_id = r.user_id AND l.ts >= r.w_start AND l.ts <= r.w_end""".stripMargin))

  /** Deterministic hash sample (reproducible dataset curation): same
    * rows selected by any engine with md5, any partitioning.
    */
  private val p8HashSample = Q(
    "p8_hash_sample",
    (s, d) => graft.relational.RelationalOps.hashSample(
      T.orders(s, d), "o_orderkey", 0.1),
    Some("""SELECT * FROM orders
           |WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 4) < '199a'""".stripMargin))

  private val twSession = Q(
    "tw_session_window",
    (s, d) => graft.streaming.Streaming.sessionStats(T.events(s, d), "30 minutes"),
    Some("""WITH o AS (SELECT user_id, ts, value,
           |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
           |  FROM events),
           |f AS (SELECT *, CASE WHEN prev IS NULL OR ts - prev >= INTERVAL '30 minutes'
           |    THEN 1 ELSE 0 END AS newsess FROM o),
           |sx AS (SELECT *, SUM(newsess) OVER (PARTITION BY user_id ORDER BY ts
           |    ROWS UNBOUNDED PRECEDING) AS sess FROM f)
           |SELECT user_id, min(ts) AS session_start,
           |  max(ts) + INTERVAL '30 minutes' AS session_end,
           |  count(*) AS n_events,
           |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total
           |FROM sx GROUP BY user_id, sess""".stripMargin))

  /** Watermarked streaming dedup, batch twin. The streaming op
    * ([[graft.streaming.Streaming.streamingDedup]],
    * `dropDuplicatesWithinWatermark`) is streaming-only by definition, so
    * the battery pins its batch fixpoint: one row per
    * (user, event_type, day). The projection IS the key set, so the
    * surviving row is unique per key and arrival-order-free;
    * StreamingSpec asserts the streaming op over the same projection
    * equals this query exactly.
    */
  private val twDedupWatermark = Q(
    "tw_dedup_watermark",
    (s, d) => graft.streaming.Streaming.dedupKeys(
      T.events(s, d).select(col("user_id"), col("event_type"),
        date_trunc("day", col("ts")).as("ts")),
      Seq("user_id", "event_type", "ts")),
    Some("""SELECT DISTINCT user_id, event_type,
           |  CAST(date_trunc('day', ts) AS TIMESTAMP) AS ts
           |FROM events""".stripMargin))

  /** Late-arrival drop/keep boundary of `dropDuplicatesWithinWatermark`,
    * batch twin. Fixture: a two-batch replay of events keyed on
    * (user_id, event_type) — batch 1 is each key's arg-min-ts row, batch
    * 2 everything else. After batch 1 the watermark is FIXED at
    * `W1 = max(per-key min ts) − 1h` for all of batch 2 (watermarks only
    * advance at batch boundaries), which gives every key a closed-form
    * emission count:
    *   - a batch-2 row with ts < W1 is LATE → dropped;
    *   - else if the key's state is still live (`W1 ≤ tmin + 1h`) →
    *     deduped;
    *   - else (state expired, row on time) → RE-EMITTED, and every later
    *     same-key row in the batch deduplicates against the new state
    *     (its ts ≥ W1, so the refreshed state cannot expire within the
    *     batch) — so n_emitted per key is exactly 1 or 2.
    * [[graft.streaming.StreamingSpec]] drives the REAL two-batch stream
    * (maxFilesPerTrigger=1) and asserts its per-key emission multiset
    * equals this query — pinning the drop/keep boundary itself, not just
    * the single-batch fixpoint (tw_dedup_watermark).
    */
  private val twDedupLateBoundary = Q(
    "tw_dedup_late_boundary",
    (s, d) => {
      val k = T.events(s, d)
        .groupBy(col("user_id"), col("event_type"))
        .agg(min(col("ts")).as("tmin"), max(col("ts")).as("tmax"),
          count(lit(1)).as("n"))
      val w1 = k.agg(max(col("tmin")).as("m1"))
        .select((col("m1") - expr("INTERVAL 1 HOUR")).as("w1"))
      k.crossJoin(broadcast(w1))
        .select(col("user_id"), col("event_type"),
          when(col("n") > 1 && col("tmax") >= col("w1") &&
              col("w1") > col("tmin") + expr("INTERVAL 1 HOUR"), lit(2L))
            .otherwise(lit(1L)).as("n_emitted"))
    },
    Some("""WITH k AS (
           |  SELECT user_id, event_type, min(ts) AS tmin, max(ts) AS tmax,
           |         count(*) AS n
           |  FROM events GROUP BY 1, 2),
           |w AS (SELECT max(tmin) - INTERVAL '1 hour' AS w1 FROM k)
           |SELECT user_id, event_type,
           |  CAST(CASE WHEN n > 1 AND tmax >= w1 AND w1 > tmin + INTERVAL '1 hour'
           |       THEN 2 ELSE 1 END AS BIGINT) AS n_emitted
           |FROM k, w""".stripMargin))

  /** Stream-stream time-bound inner join, batch form — the SAME
    * [[graft.streaming.Streaming.timeBoundJoin]] the streaming query
    * plans (stream parity pinned by StreamingSpec): every click within
    * 2 hours after a view by the same user. The time bound is what lets
    * the streaming side expire join state; in batch it's a conditional
    * equi-join on the user key, with per-key fan-out bounded by the
    * events-per-user-per-2h density (not a cartesian).
    */
  private val twJoinBound = Q(
    "tw_timebound_join",
    (s, d) => {
      val ev = T.events(s, d)
      graft.streaming.Streaming.timeBoundJoin(
        ev.where(col("event_type") === "view")
          .select(col("user_id").as("k"), col("ts").as("lts")),
        ev.where(col("event_type") === "click")
          .select(col("user_id").as("k"), col("ts").as("rts")),
        "2 HOURS")
    },
    Some("""SELECT l.user_id AS k, l.ts AS lts, r.ts AS rts
           |FROM events l JOIN events r
           |  ON l.user_id = r.user_id AND r.ts >= l.ts
           | AND r.ts <= l.ts + INTERVAL '2 hours'
           |WHERE l.event_type = 'view' AND r.event_type = 'click'""".stripMargin))

  /** Stream-stream LEFT SEMI time-bound join, batch form
    * ([[graft.streaming.Streaming.timeBoundSemiJoin]]): views that
    * converted — each view at most ONCE regardless of how many clicks
    * landed in the window (the existence filter; completes the
    * inner/left/full/semi join family). The oracle is the EXISTS form
    * the semi join is defined by.
    */
  private val twJoinBoundSemi = Q(
    "tw_timebound_semi_join",
    (s, d) => {
      val ev = T.events(s, d)
      graft.streaming.Streaming.timeBoundSemiJoin(
        ev.where(col("event_type") === "view")
          .select(col("user_id").as("k"), col("ts").as("lts")),
        ev.where(col("event_type") === "click")
          .select(col("user_id").as("k"), col("ts").as("rts")),
        "2 HOURS")
    },
    Some("""SELECT l.user_id AS k, l.ts AS lts
           |FROM events l
           |WHERE l.event_type = 'view' AND EXISTS (
           |  SELECT 1 FROM events r
           |  WHERE r.user_id = l.user_id AND r.event_type = 'click'
           |    AND r.ts >= l.ts AND r.ts <= l.ts + INTERVAL '2 hours')""".stripMargin))

  /** Stream-stream LEFT OUTER time-bound join, batch form
    * ([[graft.streaming.Streaming.timeBoundLeftJoin]]; null-padded
    * unmatched-left emission after watermark expiry pinned by
    * StreamingSpec): every view survives, padded when no click followed
    * within 2 hours.
    */
  private val twJoinBoundLeft = Q(
    "tw_timebound_left_join",
    (s, d) => {
      val ev = T.events(s, d)
      graft.streaming.Streaming.timeBoundLeftJoin(
        ev.where(col("event_type") === "view")
          .select(col("user_id").as("k"), col("ts").as("lts")),
        ev.where(col("event_type") === "click")
          .select(col("user_id").as("k"), col("ts").as("rts")),
        "2 HOURS")
    },
    Some("""SELECT l.user_id AS k, l.ts AS lts, r.ts AS rts
           |FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') l
           |LEFT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
           |  ON l.user_id = r.user_id AND r.ts >= l.ts
           | AND r.ts <= l.ts + INTERVAL '2 hours'""".stripMargin))

  /** Stream-stream RIGHT OUTER time-bound join, batch form
    * ([[graft.streaming.Streaming.timeBoundRightJoin]]): every click
    * survives, padded when no view preceded it within 2 hours — the
    * mirror of `tw_timebound_left_join`, completing the
    * inner/left/right/full/semi stream-join family (unmatched-right
    * streaming emission pinned by StreamingSpec).
    */
  private val twJoinBoundRight = Q(
    "tw_timebound_right_join",
    (s, d) => {
      val ev = T.events(s, d)
      graft.streaming.Streaming.timeBoundRightJoin(
        ev.where(col("event_type") === "view")
          .select(col("user_id").as("k"), col("ts").as("lts")),
        ev.where(col("event_type") === "click")
          .select(col("user_id").as("k"), col("ts").as("rts")),
        "2 HOURS")
    },
    Some("""SELECT r.user_id AS k, l.ts AS lts, r.ts AS rts
           |FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') l
           |RIGHT JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
           |  ON l.user_id = r.user_id AND r.ts >= l.ts
           | AND r.ts <= l.ts + INTERVAL '2 hours'""".stripMargin))

  /** Stream-stream FULL OUTER time-bound join, batch form
    * ([[graft.streaming.Streaming.timeBoundFullJoin]]): the
    * reconciliation shape — every view AND every click survives,
    * matched within 2 hours, both unmatched sides null-padded (their
    * streaming emission timing pinned by StreamingSpec). The key
    * coalesces across sides since either may be null.
    */
  private val twJoinBoundFull = Q(
    "tw_timebound_full_join",
    (s, d) => {
      val ev = T.events(s, d)
      graft.streaming.Streaming.timeBoundFullJoin(
        ev.where(col("event_type") === "view")
          .select(col("user_id").as("k"), col("ts").as("lts")),
        ev.where(col("event_type") === "click")
          .select(col("user_id").as("k"), col("ts").as("rts")),
        "2 HOURS")
    },
    Some("""SELECT coalesce(l.user_id, r.user_id) AS k, l.ts AS lts, r.ts AS rts
           |FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') l
           |FULL JOIN (SELECT user_id, ts FROM events WHERE event_type = 'click') r
           |  ON l.user_id = r.user_id AND r.ts >= l.ts
           | AND r.ts <= l.ts + INTERVAL '2 hours'""".stripMargin))

  /** `flatMapGroupsWithState` per-user running totals
    * ([[graft.streaming.Stateful.runningUserTotals]]), batch invocation
    * (one call per key, no carried state — cross-micro-batch
    * accumulation is pinned by StatefulSpec). The state accumulates
    * `total` in exact micros (long) so cross-batch order can't drift the
    * double; the oracle reproduces the identical round-to-micros
    * arithmetic, and `last_event_ms` is the epoch-millis floor both
    * engines take (java.sql.Timestamp.getTime / epoch_ms).
    */
  private val stUserTotals = Q(
    "st_user_totals",
    (s, d) => {
      import s.implicits._
      graft.streaming.Stateful.runningUserTotals(
        T.events(s, d).as[graft.streaming.Stateful.Event]).toDF()
    },
    Some("""SELECT user_id, count(*) AS n_events,
           |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
           |    / 1000000.0 AS total,
           |  epoch_ms(max(ts)) AS last_event_ms
           |FROM events GROUP BY user_id""".stripMargin))

  /** The same running totals on Spark 4's `transformWithState`
    * ([[graft.streaming.Stateful.runningUserTotalsV2]], typed
    * ValueState in a StatefulProcessor) — the arbitrary-state successor
    * to flatMapGroupsWithState, held to the identical oracle so the two
    * stateful APIs are pinned arithmetic-equal through the verify gate;
    * StatefulSpec additionally pins v2's cross-micro-batch accumulation
    * on the RocksDB store.
    */
  private val stUserTotalsV2 = Q(
    "st_user_totals_v2",
    (s, d) => {
      import s.implicits._
      graft.streaming.Stateful.runningUserTotalsV2(
        T.events(s, d).as[graft.streaming.Stateful.Event]).toDF()
    },
    Some("""SELECT user_id, count(*) AS n_events,
           |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
           |    / 1000000.0 AS total,
           |  epoch_ms(max(ts)) AS last_event_ms
           |FROM events GROUP BY user_id""".stripMargin))

  /** `transformWithState` MAP-state twin
    * ([[graft.streaming.Stateful.TypeCountsProcessor]]): per-(user,
    * event_type) running counts in a keyed `MapState` — the state
    * shape a single ValueState can't express (one sub-map per user,
    * point-wise updates; RocksDB stores each entry as its own key).
    * Batch invocation degenerates to a plain groupBy count, which is
    * the oracle; the cross-micro-batch accumulation is pinned by
    * StatefulSpec's two-batch stream.
    */
  private val stTypeCounts = Q(
    "st_type_counts",
    (s, d) => {
      import s.implicits._
      graft.streaming.Stateful.userTypeCounts(
        T.events(s, d).as[graft.streaming.Stateful.Event]).toDF()
    },
    Some("""SELECT user_id, event_type, count(*) AS n
           |FROM events GROUP BY user_id, event_type""".stripMargin))

  /** `transformWithState` LIST-state twin
    * ([[graft.streaming.Stateful.LastEventsProcessor]]): each user's
    * last 3 events by (ts, event_id) in a bounded `ListState` recency
    * buffer — with MapState (`st_type_counts`) and ValueState
    * (`st_user_totals_v2`) this completes all three state primitives.
    * Batch invocation degenerates to a per-user top-N window — the
    * oracle; state stays capped at N entries per key on streams
    * (StatefulSpec pins cross-batch displacement).
    */
  private val stLastEvents = Q(
    "st_last_events",
    (s, d) => {
      import s.implicits._
      graft.streaming.Stateful.userLastEvents(
        T.events(s, d).as[graft.streaming.Stateful.Event], n = 3).toDF()
    },
    Some("""SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, CAST(rnk AS INT) AS rank
           |FROM (SELECT user_id, event_id, ts,
           |        row_number() OVER (PARTITION BY user_id
           |          ORDER BY ts DESC, event_id DESC) AS rnk
           |      FROM events)
           |WHERE rnk <= 3""".stripMargin))

  /** `transformWithState` TIMER path
    * ([[graft.streaming.Stateful.SessionTimeoutProcessor]]): per-user
    * sessions that emit NOTHING on input — the closed session comes out
    * of `handleExpiredTimer` when the processing-time flush timer
    * (re-armed on every input batch, one live timer per key) fires
    * after `gapMs` of inactivity. With the state primitives
    * (`st_user_totals_v2` / `st_type_counts` / `st_last_events`) this
    * completes the Spark 4 stateful API surface. Batch invocation with
    * `gapMs = 0`: the timer registered at `now + 0` is processed at
    * end-of-batch against the batch timestamp, so every session closes
    * THROUGH THE TIMER and the result degenerates to a per-user
    * aggregate — the oracle; the real inactivity gap + timer-driven
    * flush across micro-batches is pinned by StatefulSpec.
    */
  private val stSessionTimeout = Q(
    "st_session_timeout",
    (s, d) => {
      import s.implicits._
      graft.streaming.Stateful.userSessions(
        T.events(s, d).as[graft.streaming.Stateful.Event], gapMs = 0L).toDF()
    },
    Some("""SELECT user_id, count(*) AS n_events,
           |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
           |    / 1000000.0 AS total,
           |  epoch_ms(min(ts)) AS first_ms, epoch_ms(max(ts)) AS last_ms
           |FROM events GROUP BY user_id""".stripMargin))

  /** `transformWithState` INITIAL-STATE path
    * ([[graft.streaming.Stateful.RunningTotalsWithInitProcessor]], the
    * `StatefulProcessorWithInitialState` API): state is warm-started
    * per key from a prior snapshot Dataset before any input — the
    * production bootstrap (batch backfill computes history once; the
    * stream continues from it). Here the snapshot is the
    * even-event-id half's aggregate and the input is the odd half;
    * warm-start + increments must equal the FULL per-user aggregate
    * for every user with stream input — which is exactly what the
    * oracle computes (HAVING at least one odd event: snapshot-only
    * keys emit nothing until input arrives).
    */
  private val stWarmStart = Q(
    "st_warm_start",
    (s, d) => {
      import s.implicits._
      val events = T.events(s, d).as[graft.streaming.Stateful.Event]
      val snapshot = events.filter(col("event_id") % 2 === 0)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          (sum(round(col("value") * 1e6).cast("long")).cast("double") / 1e6)
            .as("total"),
          max(unix_millis(col("ts"))).as("last_event_ms"))
        .as[graft.streaming.Stateful.UserRunning]
      graft.streaming.Stateful.runningUserTotalsWarmStart(
        events.filter(col("event_id") % 2 === 1), snapshot).toDF()
    },
    Some("""SELECT user_id, count(*) AS n_events,
           |  CAST(SUM(CAST(round(value * 1000000) AS BIGINT)) AS DOUBLE)
           |    / 1000000.0 AS total,
           |  epoch_ms(max(ts)) AS last_event_ms
           |FROM events GROUP BY user_id
           |HAVING count(CASE WHEN event_id % 2 = 1 THEN 1 END) > 0""".stripMargin))

  /** Streaming CDC latest-wins snapshot maintenance
    * ([[graft.streaming.Stateful.CdcLatestProcessor]], typed ValueState
    * on `transformWithState`): j20's change log held as per-key state —
    * deletes become TOMBSTONES (emitted with `deleted = true`, retained
    * so a late lower-sequence upsert can never resurrect a deleted
    * key). Batch twin of the streaming path; the cross-micro-batch
    * out-of-order/no-resurrection laws are pinned by `StatefulSpec` on
    * RocksDB. The oracle replays the winner pick WITHOUT the delete
    * filter (tombstones surface, unlike j20's compacted snapshot).
    */
  /** Incrementally-maintained per-window top-k on `transformWithState`
    * ([[graft.streaming.Stateful.WindowedTopKProcessor]]): MapState
    * holds each window's per-type counts, every micro-batch re-emits
    * the refreshed leaderboard with a bumped version (latest-wins
    * consumer contract) — the in-place successor to tw_windowed_topk's
    * foreachBatch re-rank. Batch invocation emits version-1 rows equal
    * to the batch windowedTopK — the oracle; StatefulSpec pins the
    * cross-micro-batch refresh on RocksDB.
    */
  private val stWindowedTopK = Q(
    "st_windowed_topk",
    (s, d) => {
      import s.implicits._
      graft.streaming.Stateful.windowedTopKState(
        T.events(s, d).as[graft.streaming.Stateful.Event],
        windowMs = 15L * 60L * 1000L, k = 3).toDF()
    },
    Some("""WITH c AS (SELECT epoch_ms(time_bucket(INTERVAL '15 minutes', ts)) AS ws_ms,
           |    event_type, count(*) AS n
           |  FROM events GROUP BY 1, 2)
           |SELECT ws_ms, ws_ms + 900000 AS we_ms,
           |  CAST(row_number() OVER (PARTITION BY ws_ms ORDER BY n DESC, event_type) AS INT) AS rnk,
           |  event_type, n, CAST(1 AS BIGINT) AS version
           |FROM c QUALIFY rnk <= 3""".stripMargin))

  private val stCdcLatest = Q(
    "st_cdc_latest",
    (s, d) => {
      import s.implicits._
      val o = T.orders(s, d)
      val k = col("o_orderkey")
      val l1 = o.select(k.as("key"), lit(1L).as("seq"),
        (k * 10 + 1).as("change_id"), lit("U").as("op"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      val l2 = o.where(k % 3 === 0).select(k.as("key"), lit(2L).as("seq"),
        (k * 10 + 2).as("change_id"), lit("U").as("op"),
        lit("X").as("status"), (col("o_totalprice") + 1.0).as("price"))
      val l2b = o.where(k % 7 === 0).select(k.as("key"), lit(2L).as("seq"),
        (k * 10 + 3).as("change_id"), lit("U").as("op"),
        lit("Y").as("status"), (col("o_totalprice") + 2.0).as("price"))
      val l3 = o.where(k % 5 === 0).select(k.as("key"), lit(3L).as("seq"),
        (k * 10 + 4).as("change_id"), lit("D").as("op"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"))
      graft.streaming.Stateful.cdcLatest(
        l1.unionAll(l2).unionAll(l2b).unionAll(l3)
          .as[graft.streaming.Stateful.CdcChange]).toDF()
    },
    Some("""WITH log AS (
           |  SELECT o_orderkey AS key, CAST(1 AS BIGINT) AS seq,
           |      o_orderkey*10+1 AS change_id, 'U' AS op,
           |      o_orderstatus AS status, o_totalprice AS price
           |    FROM orders
           |  UNION ALL
           |  SELECT o_orderkey, 2, o_orderkey*10+2, 'U', 'X', o_totalprice + 1.0
           |    FROM orders WHERE o_orderkey % 3 = 0
           |  UNION ALL
           |  SELECT o_orderkey, 2, o_orderkey*10+3, 'U', 'Y', o_totalprice + 2.0
           |    FROM orders WHERE o_orderkey % 7 = 0
           |  UNION ALL
           |  SELECT o_orderkey, 3, o_orderkey*10+4, 'D', o_orderstatus, o_totalprice
           |    FROM orders WHERE o_orderkey % 5 = 0),
           |r AS (SELECT *, row_number() OVER (PARTITION BY key
           |    ORDER BY seq DESC, change_id DESC) AS rn FROM log)
           |SELECT key, seq, change_id, op = 'D' AS deleted, status, price
           |FROM r WHERE rn = 1""".stripMargin))

  // ----------------------------------------- LLM-pipeline ops (north star)

  /** Exact deduplication by content hash (hash-groupBy). */
  private val d1DedupExact = Q(
    "d1_dedup_exact",
    (s, d) => T.documents(s, d)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies")),
    Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
           |  count(*) AS n_copies
           |FROM documents GROUP BY 1""".stripMargin))

  /** Text statistics: token count, char classes (quality-score inputs). */
  private val x1TextStats = Q(
    "x1_text_stats",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
      length(regexp_replace(col("text"), "[^aeiou]", "")).cast("long").as("n_vowels"),
      (length(col("text")) - length(regexp_replace(col("text"), " ", ""))).cast("long").as("n_spaces")),
    Some("""SELECT doc_id,
           |  CAST(length(text) AS BIGINT) AS len_chars,
           |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           |  CAST(length(regexp_replace(text, '[^aeiou]', '', 'g')) AS BIGINT) AS n_vowels,
           |  CAST(length(text) - length(regexp_replace(text, ' ', '', 'g')) AS BIGINT) AS n_spaces
           |FROM documents""".stripMargin))

  /** BPE-ish subword counting: whitespace tokens plus letter↔digit
    * boundary splits (zero-width lookarounds in the Spark regex). The
    * oracle's RE2 engine has no lookarounds, so it counts the same
    * quantity arithmetically: tokens + matches of [a-z][0-9] +
    * matches of [0-9][a-z] (each zero-width boundary adds one piece).
    */
  private val x6SubwordCount = Q(
    "x6_subword_count",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      size(graft.ops.TextOps.tokens(col("text"))).cast("long").as("n_tokens"),
      graft.ops.TextOps.subwordCount(col("text")).cast("long").as("n_subwords")),
    Some("""SELECT doc_id,
           |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           |  CAST(len(string_split_regex(trim(text), '\s+'))
           |    + (length(text) - length(regexp_replace(text, '[a-z][0-9]', '', 'g'))) // 2
           |    + (length(text) - length(regexp_replace(text, '[0-9][a-z]', '', 'g'))) // 2
           |    AS BIGINT) AS n_subwords
           |FROM documents""".stripMargin))

  /** Brute-force cosine top-k ANN baseline over the embeddings table.
    * Dot products are strict left folds over doubles on both sides, and
    * only ranks are emitted, so float noise can't flip the compare.
    */
  private val n1AnnTopK = Q(
    "n1_ann_cosine_topk",
    (s, d) => {
      val emb = T.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val q = emb.filter(col("vec_id") < 5).select(col("vec_id").as("qid"), col("v").as("qv"))
      val c = emb.select(col("vec_id").as("cid"), col("v").as("cv"))
      def dot(a: Column, b: Column): Column = graft.ops.SimilarityOps.dot(a, b)
      val scored = q.join(c, col("cid") =!= col("qid"))
        .select(col("qid"), col("cid"),
          (dot(col("qv"), col("cv")) /
            (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("cv"), col("cv"))))).as("cos"))
      val w = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("cid"))
      scored.withColumn("rnk", row_number().over(w))
        .filter(col("rnk") <= 10)
        .select(col("qid"), col("cid").as("neighbor_id"), col("rnk"))
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 5),
           |c AS (SELECT vec_id AS cid, embedding::DOUBLE[] AS cv FROM embeddings),
           |s AS (SELECT qid, cid,
           |        list_dot_product(qv, cv) /
           |          (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
           |      FROM q, c WHERE cid != qid)
           |SELECT qid, cid AS neighbor_id, CAST(rnk AS INT) AS rnk
           |FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM s)
           |WHERE rnk <= 10""".stripMargin))

  /** Multimodal column plumbing: opaque binary payload + typed metadata
    * (decode itself is stubbed per the brief; the Spark-side schema and
    * hashing are real).
    */
  private val m1Multimodal = Q(
    "m1_multimodal_bytes",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      length(encode(col("text"), "UTF-8")).cast("long").as("byte_len"),
      md5(col("text")).as("content_hash"),
      substring(md5(col("text")), 1, 8).as("shard_key")),
    Some("""SELECT doc_id,
           |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           |  md5(text) AS content_hash,
           |  substr(md5(text), 1, 8) AS shard_key
           |FROM documents""".stripMargin))

  // --------------------------------- dedup / text / similarity (north star)

  /** MinHash signatures + LSH band keys per document (3-gram shingles,
    * k=8, bands of 2) — all narrow array expressions, zero shuffle.
    */
  private val d2MinhashBands = Q(
    "d2_minhash_bands",
    (s, d) => graft.ops.DedupOps
      .minhashBands(T.documents(s, d), "doc_id", "text", withShingleSet = false)
      .withColumnRenamed("id", "doc_id"),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, [md5(array_to_string(toks[i:i+2], ' ')) for i in range(1, len(toks)-1)] AS hl FROM t),
           |sig AS (SELECT doc_id,
           |  list_sort([substr(h, 1, 4) for h in hl])[1] AS sig_0,
           |  list_sort([substr(h, 5, 4) for h in hl])[1] AS sig_1,
           |  list_sort([substr(h, 9, 4) for h in hl])[1] AS sig_2,
           |  list_sort([substr(h, 13, 4) for h in hl])[1] AS sig_3,
           |  list_sort([substr(h, 17, 4) for h in hl])[1] AS sig_4,
           |  list_sort([substr(h, 21, 4) for h in hl])[1] AS sig_5,
           |  list_sort([substr(h, 25, 4) for h in hl])[1] AS sig_6,
           |  list_sort([substr(h, 29, 4) for h in hl])[1] AS sig_7
           |FROM g)
           |SELECT doc_id, sig_0, sig_1, sig_2, sig_3, sig_4, sig_5, sig_6, sig_7,
           |  md5(sig_0||sig_1) AS band_0, md5(sig_2||sig_3) AS band_1,
           |  md5(sig_4||sig_5) AS band_2, md5(sig_6||sig_7) AS band_3
           |FROM sig""".stripMargin))

  /** Near-duplicate pairs: LSH candidates (one shuffle on the bucket key
    * — the O(n²)→equi-join rewrite that survives 100 TB) verified with
    * exact shingle-set Jaccard ≥ 0.5.
    */
  private val d2bNearDupPairs = Q(
    "d2b_neardup_pairs",
    (s, d) => {
      val bands = graft.ops.DedupOps.minhashBands(T.documents(s, d), "doc_id", "text")
      graft.ops.DedupOps.nearDupPairs(bands, nBands = 4, threshold = 0.5)
    },
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)] AS sh FROM t),
           |sig AS (SELECT doc_id, sh,
           |  list_sort([substr(md5(s), 1, 4) for s in sh])[1] AS s0,
           |  list_sort([substr(md5(s), 5, 4) for s in sh])[1] AS s1,
           |  list_sort([substr(md5(s), 9, 4) for s in sh])[1] AS s2,
           |  list_sort([substr(md5(s), 13, 4) for s in sh])[1] AS s3,
           |  list_sort([substr(md5(s), 17, 4) for s in sh])[1] AS s4,
           |  list_sort([substr(md5(s), 21, 4) for s in sh])[1] AS s5,
           |  list_sort([substr(md5(s), 25, 4) for s in sh])[1] AS s6,
           |  list_sort([substr(md5(s), 29, 4) for s in sh])[1] AS s7
           |FROM g),
           |bands AS (SELECT doc_id, md5(s0||s1) b0, md5(s2||s3) b1, md5(s4||s5) b2, md5(s6||s7) b3 FROM sig),
           |eb AS (
           |  SELECT doc_id, 0 AS bi, b0 AS bucket FROM bands UNION ALL
           |  SELECT doc_id, 1, b1 FROM bands UNION ALL
           |  SELECT doc_id, 2, b2 FROM bands UNION ALL
           |  SELECT doc_id, 3, b3 FROM bands),
           |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM eb a JOIN eb b USING (bi, bucket) WHERE a.doc_id < b.doc_id),
           |ds AS (SELECT doc_id, unnest(list_distinct(sh)) AS s FROM g),
           |sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
           |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           |  FROM ds a JOIN ds b USING (s) GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(c AS DOUBLE)/(sa.n + sb.n - c) AS jaccard
           |FROM cand JOIN ov USING (doc_a, doc_b)
           |JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
           |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.5""".stripMargin))

  /** Exact n-gram Jaccard pairs via prefix-filtered inverted index —
    * no LSH approximation; the oracle recomputes the naive all-pairs
    * answer, pinning that prefix filtering loses no pair.
    */
  private val d4NgramJaccard = Q(
    "d4_ngram_jaccard",
    (s, d) => graft.ops.DedupOps
      .ngramJaccardPairs(T.documents(s, d), "doc_id", "text",
        shingleN = 3, threshold = 0.5),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh FROM t),
           |ds AS (SELECT doc_id, unnest(sh) AS s FROM g),
           |sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
           |ov AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
           |  FROM ds a JOIN ds b USING (s) WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(c AS DOUBLE)/(sa.n + sb.n - c) AS jaccard
           |FROM ov
           |JOIN sz sa ON sa.doc_id = doc_a JOIN sz sb ON sb.doc_id = doc_b
           |WHERE CAST(c AS DOUBLE)/(sa.n + sb.n - c) >= 0.5""".stripMargin))

  /** DuckDB replay of the SimHash majority vote over token-md5 hex
    * nibbles (shared by d3/d7): packed value over fingerprint bits
    * [from, until), each weighted 2^(b-from).
    */
  private def simhashOracleTerms(from: Int = 0, until: Int = 16): String =
    (from until until).map { b =>
      val pos = 1 + b / 4
      val shift = 3 - (b % 4)
      s"""CASE WHEN 2*len(list_filter(hl, h -> ((instr('0123456789abcdef', substr(h, $pos, 1)) - 1) >> $shift) & 1 = 1)) - len(hl) > 0 THEN ${1L << (b - from)} ELSE 0 END"""
    }.mkString(" + ")

  /** 16-bit SimHash per document (majority vote over token-hash bits). */
  private val d3Simhash = Q(
    "d3_simhash",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.DedupOps.simhash16(col("text")).as("simhash")),
    Some {
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |h AS (SELECT doc_id, [md5(t) for t in toks] AS hl FROM t)
         |SELECT doc_id, CAST(${simhashOracleTerms(0, 16)} AS INT) AS simhash FROM h""".stripMargin
    })

  /** SimHash near-dup pairs within Hamming distance ≤ 3 over the
    * 64-bit fingerprint via Manku block banding
    * ([[graft.ops.DedupOps.simhashPairs]]): 4 blocks of 16 bits; a
    * qualifying pair must agree exactly on ≥ 1 block (pigeonhole), so
    * candidates come from ONE (block_idx, block_value) equi-join
    * shuffle — 65 536 bucket values per block — and exact
    * bit_count(xor) verifies candidates only. The oracle is the honest
    * brute-force quadratic over all id-ordered pairs — tractable at
    * oracle SF, which is exactly the check that the banded join loses
    * no pair. DuckDB carries the fingerprint as two 32-bit halves
    * (BIGINT-safe — a bit-63 weight literal would overflow to
    * HUGEINT); Hamming distance = sum of per-half bit_count(xor).
    */
  private val d7SimhashPairs = Q(
    "d7_simhash_pairs",
    (s, d) => graft.ops.DedupOps.simhashPairs(
      T.documents(s, d), "doc_id", "text", maxDist = 3),
    Some {
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
         |h AS (SELECT doc_id, [md5(t) for t in toks] AS hl FROM t),
         |sg AS (SELECT doc_id,
         |         CAST(${simhashOracleTerms(0, 32)} AS BIGINT) AS lo,
         |         CAST(${simhashOracleTerms(32, 64)} AS BIGINT) AS hi FROM h)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) AS INT) AS hamming
         |FROM sg a JOIN sg b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.lo, b.lo)) + bit_count(xor(a.hi, b.hi)) <= 3""".stripMargin
    })

  /** Duplicate n-gram span detection
    * ([[graft.ops.DedupOps.duplicateSpans]]): a token position is
    * covered when its 8-token window occurs ≥ 2 times corpus-wide;
    * adjacent covered starts merge into maximal spans (the Lee et al.
    * exact-substring dedup signal — the spans a curation pass would cut
    * rather than dropping whole near-dup documents). The oracle replays
    * the same positional-shingle → corpus-count → gaps-and-islands
    * construction; `pos − row_number` is engine-independent, so the
    * spans are hash-exact.
    */
  private val d8DupSpans = Q(
    "d8_dup_spans",
    (s, d) => graft.ops.DedupOps.duplicateSpans(
      T.documents(s, d), "doc_id", "text", n = 8),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
           |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS s
           |      FROM t, UNNEST(range(1, len(tk) - 6)) AS u(i) WHERE len(tk) >= 8),
           |dup AS (SELECT s FROM w GROUP BY s HAVING count(*) >= 2),
           |p AS (SELECT doc_id, pos FROM w JOIN dup USING (s)),
           |g AS (SELECT doc_id, pos,
           |        pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
           |      FROM p)
           |SELECT doc_id, CAST(min(pos) AS BIGINT) AS span_start,
           |  CAST(max(pos) + 7 AS BIGINT) AS span_end,
           |  count(*) AS n_windows
           |FROM g GROUP BY doc_id, grp""".stripMargin))

  /** Duplicate-span CUTTING ([[graft.ops.DedupOps.cutDuplicateSpans]]):
    * the action to d8's detection — every token inside a repeated
    * 8-gram window is removed and the survivors re-joined, emitted as
    * md5(cleaned body) + exact kept/cut counts per document (every
    * document appears, fully-cut ones with md5('')). The oracle
    * rebuilds the cleaned body with an ORDER BY inside string_agg —
    * byte-equal to Spark's sorted collect_list reconstruction.
    */
  private val d9DupSpanCut = Q(
    "d9_dup_span_cut",
    (s, d) => graft.ops.DedupOps.cutDuplicateSpans(
      T.documents(s, d), "doc_id", "text", n = 8),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
           |w AS (SELECT doc_id, i - 1 AS pos, array_to_string(tk[i:i+7], ' ') AS s
           |      FROM t, UNNEST(range(1, len(tk) - 6)) AS u(i) WHERE len(tk) >= 8),
           |dup AS (SELECT s FROM w GROUP BY s HAVING count(*) >= 2),
           |cut AS (SELECT DISTINCT doc_id, pos + j AS ti
           |        FROM (SELECT doc_id, pos FROM w JOIN dup USING (s)) c,
           |             UNNEST(range(0, 8)) AS v(j)),
           |tok AS (SELECT doc_id, i - 1 AS ti, tk[i] AS tok
           |        FROM t, UNNEST(range(1, len(tk) + 1)) AS u(i)),
           |k AS (SELECT tok.doc_id, tok.ti, tok.tok, cut.ti IS NOT NULL AS is_cut
           |      FROM tok LEFT JOIN cut ON tok.doc_id = cut.doc_id AND tok.ti = cut.ti)
           |SELECT doc_id,
           |  md5(coalesce(string_agg(CASE WHEN NOT is_cut THEN tok END, ' ' ORDER BY ti), '')) AS clean_md5,
           |  CAST(count(*) FILTER (NOT is_cut) AS BIGINT) AS n_kept,
           |  CAST(count(*) FILTER (is_cut) AS BIGINT) AS n_cut
           |FROM k GROUP BY doc_id""".stripMargin))

  /** Edit-distance similarity join over 40-char document prefixes
    * ([[graft.ops.DedupOps.editDistanceJoin]], SymSpell
    * deletion-neighborhood candidates + threshold-bounded levenshtein
    * verify). The oracle brute-forces the same predicate — safe at
    * sf0.01 (500 docs), which is exactly why the Spark side must NOT:
    * its candidates come from an equi-join on variant hashes.
    */
  private val d10EditDistance = Q(
    "d10_edit_distance_join",
    (s, d) => graft.ops.DedupOps.editDistanceJoin(
      T.documents(s, d).select(col("doc_id"),
        substring(col("text"), 1, 40).as("prefix")),
      "doc_id", "prefix", maxDist = 2)
      .select(col("doc_a"), col("doc_b"), col("dist").cast("long").as("dist")),
    Some("""WITH p AS (SELECT doc_id, substr(text, 1, 40) AS pf FROM documents)
           |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |  CAST(levenshtein(a.pf, b.pf) AS BIGINT) AS dist
           |FROM p a JOIN p b ON a.doc_id < b.doc_id
           |WHERE abs(length(a.pf) - length(b.pf)) <= 2
           |  AND levenshtein(a.pf, b.pf) <= 2""".stripMargin))

  /** The curation pipeline end-to-end
    * ([[graft.ops.CorpusOps.curate]]) — the LLM-data twin of
    * `kf_full_pipeline`: language gate → quality gate → exact dedup →
    * near-dup connected-components pick-one → PII redaction →
    * token-budget packing, one row per surviving document with its
    * pack assignment and redacted-body md5. The oracle splices the
    * SAME generated langid/quality CTE chains the standalone x2/x4
    * oracles use, then replays fingerprint dedup, the Jaccard pair +
    * recursive-reach clustering of d6, and x9's packing window over
    * the survivor set — so the composition is hash-exact through all
    * six stages.
    */
  private val c1Curation = Q(
    "c1_corpus_curation",
    (s, d) => graft.ops.CorpusOps.curate(
      T.documents(s, d), "doc_id", "text"),
    Some(curationOracle))

  /** Incremental (cross-batch) curation
    * ([[graft.ops.IncrementalCurateOps]]): the corpus is ingested as
    * two ascending-id shards, each curated against the persisted state
    * of everything before it — old text is never re-scanned — and the
    * curated view after shard 2 must hash-equal the ONE-SHOT c1 run on
    * the union, which is why this row shares c1's oracle verbatim.
    */
  private val c2Incremental = Q(
    "c2_incremental_curation",
    (s, d) => {
      import graft.ops.IncrementalCurateOps
      val docs = T.documents(s, d)
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_c2_state").toString
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      IncrementalCurateOps.ingestShard(s, docs.where(col("doc_id") <= mid),
        "doc_id", "text", stateDir, batchId = 0L)
      IncrementalCurateOps.ingestShard(s, docs.where(col("doc_id") > mid),
        "doc_id", "text", stateDir, batchId = 1L)
      IncrementalCurateOps.curated(s, stateDir)
    },
    Some(curationOracle))

  /** Streaming incremental curation
    * ([[graft.streaming.Streaming.stateIngest]] around
    * [[graft.ops.IncrementalCurateOps.ingestShard]]): c2's two shards
    * arrive as FILES in a watched directory, each drained by an
    * `AvailableNow` pass whose `foreachBatch` folds the micro-batch
    * into the same cross-batch curation state — the file-source
    * checkpoint provides the monotonic batch ids and exactly-once file
    * tracking, ingestShard's directory ledger makes the fold
    * idempotent. The curated view after the second pass shares c1's
    * one-shot oracle: batch, incremental-batch, and streaming ingestion
    * are all indistinguishable.
    */
  private val stIncrementalCuration = Q(
    "st_incremental_curation",
    (s, d) => {
      import graft.ops.IncrementalCurateOps
      import org.apache.hadoop.fs.Path
      val docs = T.documents(s, d)
      val base = java.nio.file.Files
        .createTempDirectory("graft_stc").toString
      val (watch, ckpt, state) =
        (s"$base/in", s"$base/ckpt", s"$base/state")
      val fs = new Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(watch))
      def drain(): Unit = graft.streaming.Streaming.stateIngest(
        s, watch, docs.schema, ckpt,
        graft.ops.StateRoot(IncrementalCurateOps.Curation, state),
        "doc_id") { (df, batchId) =>
        IncrementalCurateOps.ingestShard(df.sparkSession, df, "doc_id",
          "text", state, batchId)
      }
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      landShard(fs, base, watch, docs.where(col("doc_id") <= mid), "s1")
      drain()
      landShard(fs, base, watch, docs.where(col("doc_id") > mid), "s2")
      drain()
      IncrementalCurateOps.curated(s, state)
    },
    Some(curationOracle))

  /** st_curate_then_index — the composed CURATE → INDEX stream
    * ([[graft.streaming.Streaming.curateAndIndexIngest]]): document
    * shards drain through ONE micro-batch harness that folds curation
    * state, indexes each shard's curation-kept docs, and retracts
    * cross-shard demotions by BM25 tombstone — the full production
    * loop. Search over the composed index must be hash-identical to a
    * one-shot curate-then-index over everything streamed: the oracle
    * runs the canonical curation CTE chain (gates → exact dedup →
    * near-dup reps) on the corpus split and the canonical BM25 chain
    * over exactly its kept set, so an index that missed a demotion (or
    * kept a demoted doc's df in its statistics) hash-mismatches.
    */
  private val stCurateThenIndex = Q(
    "st_curate_then_index",
    (s, d) => {
      import org.apache.hadoop.fs.Path
      val docs = T.documents(s, d)
      val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val base = java.nio.file.Files
        .createTempDirectory("graft_stci").toString
      val (watch, ckpt, state) =
        (s"$base/in", s"$base/ckpt", s"$base/state")
      val fs = new Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(watch))
      def drain(): Unit = graft.streaming.Streaming.curateAndIndexIngest(
        s, watch, corpus.schema, ckpt, state, "doc_id", "text")
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      landShard(fs, base, watch, corpus.where(col("doc_id") <= mid), "s1")
      drain()
      landShard(fs, base, watch, corpus.where(col("doc_id") > mid), "s2")
      drain()
      graft.ops.IncrementalIndexOps
        .bm25Search(s, s"$state/index", queries, "qid", "text", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some {
      s"""WITH RECURSIVE
         |${curationS2Ctes("d.doc_id % 97 <> 0")},
         |ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS token
         |  FROM s2),
         |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
         |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
         |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
         |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
         |qt AS (SELECT DISTINCT qid, token FROM
         |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\\s+')) AS token
         |   FROM documents WHERE doc_id % 97 = 0)),
         |cand AS (SELECT qt.qid, p.doc_id,
         |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
         |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
         |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
         |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
         |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
         |    count(*) AS n_match FROM cand GROUP BY 1, 2),
         |rr AS (SELECT qid, doc_id, score, n_match,
         |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
         |  FROM sc)
         |SELECT qid, rank, doc_id, score, n_match FROM rr WHERE rank <= 10""".stripMargin
    })

  /** c4 — TAKEDOWN ([[graft.ops.StateRoot.delete]]): the
    * compliance write path — documents permanently removed from the
    * curated corpus by tombstone, duplicates they suppressed staying
    * suppressed and survivors keeping their pack assignments (the
    * tombstone applies after packing: a resumed training run sees a
    * hole, never a reshuffle). The oracle is therefore exactly c1's
    * output minus the taken-down rows — any pack-id drift or
    * resurrection hash-mismatches.
    */
  private val c4Takedown = Q(
    "c4_takedown",
    (s, d) => {
      val I = graft.ops.IncrementalCurateOps
      val docs = T.documents(s, d)
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_c4_state").toString
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestShard(s, docs.where(col("doc_id") <= mid),
        "doc_id", "text", stateDir, 0L)
      I.ingestShard(s, docs.where(col("doc_id") > mid),
        "doc_id", "text", stateDir, 1L)
      graft.ops.StateRoot.deleteIn(s, I.Curation,
        docs.where(pmod(col("doc_id"), lit(11)) === 0).select("doc_id"),
        "doc_id", stateDir, 0L)
      I.curated(s, stateDir)
    },
    Some(s"""SELECT * FROM ($curationOracle) t
            |WHERE t.doc_id % 11 <> 0""".stripMargin))

  /** c5 — CURATED VIEW AS OF a shard cut
    * ([[graft.ops.IncrementalCurateOps.curated]] with `asOfBatch`):
    * the training-set audit verb — "what was the curated corpus when
    * shard 0 was newest?" — read from the SAME state directory that
    * has since ingested shard 1 and absorbed a takedown. Consistency
    * comes from the family's in-order contract (a prefix of the
    * ascending ingest IS a historical state), and takedowns apply at
    * EVERY cut (compliance removals must hold in historical views
    * too — deliberately unlike the search families' refuse contract).
    * The oracle is the canonical curation chain over the first shard's
    * half of the corpus with the taken-down ids filtered after
    * packing: leaked shard-2 docs, a leaked cross-shard near-dup edge,
    * a resurrected takedown, or a pack-id reshuffle all hash-mismatch.
    */
  private val c5CuratedAsOf = Q(
    "c5_curated_asof",
    (s, d) => {
      val I = graft.ops.IncrementalCurateOps
      val docs = T.documents(s, d)
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_c5_state").toString
      val r = docs.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestShard(s, docs.where(col("doc_id") <= mid),
        "doc_id", "text", stateDir, 0L)
      I.ingestShard(s, docs.where(col("doc_id") > mid),
        "doc_id", "text", stateDir, 1L)
      graft.ops.StateRoot.deleteIn(s, I.Curation,
        docs.where(pmod(col("doc_id"), lit(11)) === 0).select("doc_id"),
        "doc_id", stateDir, 0L)
      I.curated(s, stateDir, I.CurateConfig(), asOfBatch = Some(0L))
    },
    Some(curationOracleOver(
      corpusWhere =
        "d.doc_id <= (SELECT (min(doc_id) + max(doc_id)) // 2 FROM documents)",
      finalWhere = "doc_id % 11 <> 0")))

  /** Per-document curation audit
    * ([[graft.ops.CorpusOps.curationReport]]): one row per INPUT
    * document with the disposition c1's stage cascade gave it —
    * dropped_language / dropped_quality / exact_duplicate (ref = the
    * fingerprint keeper) / near_duplicate (ref = the component rep) /
    * kept — the "why is doc X not in the training set?" ledger. The
    * oracle replays c1's own CTE chains (gates, fingerprint keepers,
    * pair graph + recursive reach) and labels every document, so the
    * disposition precedence AND both lost-to references are hash-exact.
    */
  private val c3Report = Q(
    "c3_curation_report",
    (s, d) => graft.ops.CorpusOps.curationReport(
      T.documents(s, d), "doc_id", "text"),
    Some {
      s"""WITH RECURSIVE
         |${langIdOracleCtes("cl")},
         |${qualityOracleCtes("cq")},
         |s0 AS (SELECT d.doc_id, d.text, cl.pred_lang, cq.quality_e6
         |       FROM documents d JOIN cl USING (doc_id) JOIN cq USING (doc_id)
         |       WHERE cl.pred_lang = 'en' AND cq.quality_e6 >= 550000),
         |fpd AS (SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM s0),
         |kmap AS (SELECT fp, min(doc_id) AS keeper FROM fpd GROUP BY fp),
         |km AS (SELECT f.doc_id, k.keeper FROM fpd f JOIN kmap k USING (fp)),
         |s1 AS (SELECT f.* FROM fpd f JOIN km USING (doc_id) WHERE km.keeper = f.doc_id),
         |tt AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM s1),
         |gg AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh FROM tt),
         |dsh AS (SELECT doc_id, unnest(sh) AS s FROM gg),
         |ssz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
         |pp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM dsh a JOIN dsh b USING (s)
         |  JOIN ssz sa ON sa.doc_id = a.doc_id
         |  JOIN ssz sb ON sb.doc_id = b.doc_id
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2, sa.n, sb.n
         |  HAVING CAST(count(*) AS DOUBLE)/(sa.n + sb.n - count(*)) >= 0.5),
         |ee AS (SELECT doc_a AS a, doc_b AS bb FROM pp
         |       UNION SELECT doc_b, doc_a FROM pp),
         |reach(a, bb) AS (
         |  SELECT a, bb FROM ee
         |  UNION
         |  SELECT r.a, ee.bb FROM reach r JOIN ee ON r.bb = ee.a),
         |rm AS (SELECT s1.doc_id,
         |    least(s1.doc_id, coalesce(min(r.bb), s1.doc_id)) AS rep
         |  FROM s1 LEFT JOIN reach r ON r.a = s1.doc_id
         |  GROUP BY s1.doc_id)
         |SELECT d.doc_id,
         |  CASE WHEN cl.pred_lang <> 'en' THEN 'dropped_language'
         |       WHEN cq.quality_e6 < 550000 THEN 'dropped_quality'
         |       WHEN km.keeper <> d.doc_id THEN 'exact_duplicate'
         |       WHEN rm.rep <> d.doc_id THEN 'near_duplicate'
         |       ELSE 'kept' END AS disposition,
         |  CASE WHEN cl.pred_lang <> 'en' OR cq.quality_e6 < 550000 THEN NULL
         |       WHEN km.keeper <> d.doc_id THEN km.keeper
         |       WHEN rm.rep <> d.doc_id THEN rm.rep END AS ref_id,
         |  cl.pred_lang, cq.quality_e6
         |FROM documents d JOIN cl USING (doc_id) JOIN cq USING (doc_id)
         |LEFT JOIN km USING (doc_id)
         |LEFT JOIN rm USING (doc_id)""".stripMargin
    })

  /** Land one shard as ONE parquet file `<watch>/<name>.parquet` (one
    * file => the AvailableNow pass sees exactly one micro-batch),
    * written under `<base>/tmp_<name>` first so the watcher never lists
    * a partial file. A refused move fails the query: ignoring it would
    * drain an empty micro-batch and hand the oracle a wrong answer.
    */
  private def landShard(fs: org.apache.hadoop.fs.FileSystem, base: String,
      watch: String, df: DataFrame, name: String): Unit = {
    import org.apache.hadoop.fs.Path
    val tmp = s"$base/tmp_$name"
    df.coalesce(1).write.parquet(tmp)
    val part = fs.globStatus(new Path(s"$tmp/part-*"))(0).getPath
    val dest = new Path(s"$watch/$name.parquet")
    require(fs.rename(part, dest), s"could not land $part at $dest")
  }

  /** The curation stage cascade as CTEs, gate through near-dup reps —
    * final CTE `s2` exposes the KEPT documents (doc_id, text,
    * pred_lang, quality_e6) of the corpus rows matching `corpusWhere`.
    * Shared by the c1/c2 oracle (packing appended) and the composed
    * curate-then-index stream oracle (BM25 appended), so "the kept
    * set" has ONE canonical SQL definition.
    */
  private def curationS2Ctes(corpusWhere: String): String = {
      s"""${langIdOracleCtes("cl")},
         |${qualityOracleCtes("cq")},
         |s0 AS (SELECT d.doc_id, d.text, cl.pred_lang, cq.quality_e6
         |       FROM documents d JOIN cl USING (doc_id) JOIN cq USING (doc_id)
         |       WHERE ($corpusWhere)
         |         AND cl.pred_lang = 'en' AND cq.quality_e6 >= 550000),
         |fpd AS (SELECT *, md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g'))) AS fp FROM s0),
         |k1 AS (SELECT min(doc_id) AS doc_id FROM fpd GROUP BY fp),
         |s1 AS (SELECT f.* FROM fpd f JOIN k1 USING (doc_id)),
         |tt AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM s1),
         |gg AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh FROM tt),
         |dsh AS (SELECT doc_id, unnest(sh) AS s FROM gg),
         |ssz AS (SELECT doc_id, count(*) AS n FROM dsh GROUP BY 1),
         |pp AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM dsh a JOIN dsh b USING (s)
         |  JOIN ssz sa ON sa.doc_id = a.doc_id
         |  JOIN ssz sb ON sb.doc_id = b.doc_id
         |  WHERE a.doc_id < b.doc_id
         |  GROUP BY 1, 2, sa.n, sb.n
         |  HAVING CAST(count(*) AS DOUBLE)/(sa.n + sb.n - count(*)) >= 0.5),
         |ee AS (SELECT doc_a AS a, doc_b AS bb FROM pp
         |       UNION SELECT doc_b, doc_a FROM pp),
         |reach(a, bb) AS (
         |  SELECT a, bb FROM ee
         |  UNION
         |  SELECT r.a, ee.bb FROM reach r JOIN ee ON r.bb = ee.a),
         |reps AS (SELECT s1.doc_id FROM s1 LEFT JOIN reach r ON r.a = s1.doc_id
         |  GROUP BY s1.doc_id
         |  HAVING least(s1.doc_id, coalesce(min(r.bb), s1.doc_id)) = s1.doc_id),
         |s2 AS (SELECT f.* FROM s1 f JOIN reps USING (doc_id))""".stripMargin
  }

  /** The shared one-shot curation oracle (c1 AND c2 — incremental
    * processing must be indistinguishable from a union recompute).
    */
  private def curationOracle: String = curationOracleOver("TRUE")

  /** The canonical curation chain over a restricted corpus, with an
    * optional final filter — shared by c1/c2/st (full corpus), and by
    * the as-of row c5 (a historical shard cut with takedowns applied
    * after packing: the filter sits OUTSIDE the pack window, so
    * survivors keep their pack ids — a hole, never a reshuffle).
    */
  private def curationOracleOver(corpusWhere: String,
      finalWhere: String = "TRUE"): String = {
      s"""WITH RECURSIVE
         |${curationS2Ctes(corpusWhere)},
         |pk AS (SELECT doc_id, doc_id % 8 AS shard,
         |        CAST(len(string_split_regex(trim(text), '\\s+')) AS BIGINT) AS n_tok
         |       FROM s2),
         |pc AS (SELECT doc_id, shard, n_tok,
         |        coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
         |       FROM pk)
         |SELECT * FROM (SELECT s2.doc_id, s2.pred_lang, s2.quality_e6,
         |  md5(regexp_replace(regexp_replace(regexp_replace(s2.text,
         |    '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]', '<EMAIL>', 'g'),
         |    '555-[0-9]{4}', '<PHONE>', 'g'),
         |    '([0-9]{1,3}\\.){3}[0-9]{1,3}', '<IP>', 'g')) AS red_md5,
         |  CAST(pc.shard AS BIGINT) AS shard, pc.n_tok,
         |  CAST(pc.bef // 512 AS BIGINT) AS pack_id
         |FROM s2 JOIN pc USING (doc_id))
         |WHERE ($finalWhere)""".stripMargin
  }

  /** Generated DuckDB CTE chain for the language-ID kernel, shared
    * verbatim by the standalone query (x2) and the composed curation
    * pipeline (c1) so every comparison uses ONE canonical SQL form.
    * `prefix` keeps CTE names collision-free when several chains are
    * spliced into a single WITH clause; the final CTE (named
    * `<prefix>`) exposes (doc_id, pred_lang).
    */
  private def langIdOracleCtes(prefix: String): String = {
    val profiles = graft.ops.TextOps.StopwordProfiles.toSeq.sortBy(_._1)
    val counts = profiles.map { case (lang, prof) =>
      val lst = prof.map(w => s"'$w'").mkString(", ")
      s"len(list_filter(toks, t -> list_contains([$lst], t))) AS c_$lang"
    }.mkString(",\n  ")
    val langs = profiles.map(_._1)
    val best = s"greatest(${langs.map("c_" + _).mkString(", ")})"
    val pred = langs.map(l => s"WHEN c_$l = m THEN '$l'").mkString("CASE ", " ", " END")
    s"""${prefix}_t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |${prefix}_c AS (SELECT doc_id,
       |  $counts
       |FROM ${prefix}_t),
       |${prefix}_m AS (SELECT *, $best AS m FROM ${prefix}_c),
       |$prefix AS (SELECT doc_id, $pred AS pred_lang FROM ${prefix}_m)""".stripMargin
  }

  /** Language-ID: stopword-profile argmax (lexicographic tie-break). */
  private val x2LangId = Q(
    "x2_langid",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.TextOps.langId(col("text")).as("pred_lang"),
      (graft.ops.TextOps.langId(col("text")) === col("lang")).as("is_correct")),
    Some {
      s"""WITH ${langIdOracleCtes("li")}
         |SELECT d.doc_id, li.pred_lang, (li.pred_lang = d.lang) AS is_correct
         |FROM documents d JOIN li USING (doc_id)""".stripMargin
    })

  /** Content fingerprint of normalized text (exact-dedup key). */
  private val x3Fingerprint = Q(
    "x3_fingerprint",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.TextOps.fingerprint(col("text")).as("fp")),
    Some("""SELECT doc_id,
           |  md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
           |FROM documents""".stripMargin))

  /** 64-bit rolling (Rabin–Karp) fingerprint — Catalyst fold vs a
    * DuckDB list_reduce oracle (hex→int via the 0x-literal cast; both
    * sides stay in the 2³¹−1 field so no overflow on either engine).
    */
  private val x3bRolling = Q(
    "x3b_rolling_fingerprint",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.TextOps.rollingFingerprint(col("text")).as("fp64")),
    Some("""WITH toks AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk FROM documents),
           |h AS (SELECT doc_id,
           |  [CAST(concat('0x', substr(md5(x), 1, 15)) AS UBIGINT) % 2147483647 for x in tk] AS hl
           |FROM toks)
           |SELECT doc_id,
           |  CAST(list_reduce(list_prepend(0::UBIGINT, hl),
           |       (acc, x) -> (acc * 1000003 + x) % 2147483647) AS BIGINT) AS fp64
           |FROM h""".stripMargin))

  /** Composite quality score, emitted in exact integer MILLIONTHS:
    * the double form rounded at a 1e-6 knife edge, and at sf0.1 two
    * documents landed exactly on a .5 rounding boundary where Spark and
    * DuckDB disagree — integer rational arithmetic with half-up integer
    * division is bit-identical at any scale factor.
    */
  /** Generated DuckDB CTE chain for the quality-score kernel (shared
    * by x4 and c1, same contract as [[langIdOracleCtes]]): the final
    * CTE (named `<prefix>`) exposes (doc_id, quality_e6).
    */
  private def qualityOracleCtes(prefix: String): String = {
    val stops = graft.ops.TextOps.StopwordProfiles("en").map(w => s"'$w'").mkString(", ")
    s"""${prefix}_t AS (SELECT doc_id, text, string_split_regex(trim(text), '\\s+') AS toks FROM documents),
       |${prefix}_c AS (SELECT doc_id,
       |  CAST(len(toks) AS BIGINT) AS nt,
       |  CAST(len(list_filter(toks, t -> list_contains([$stops], t))) AS BIGINT) AS stop,
       |  CAST(length(text) AS BIGINT) AS nch,
       |  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) AS BIGINT) AS dig
       |FROM ${prefix}_t),
       |${prefix}_r AS (SELECT doc_id,
       |  400000 * least(stop * 4, nt) * 8 * nch +
       |  300000 * (nch - dig) * 8 * nt +
       |  300000 * least(nch - nt + 1, nt * 8) * nch AS n,
       |  8 * nt * nch AS d
       |FROM ${prefix}_c),
       |$prefix AS (SELECT doc_id, (n * 2 + d) // (d * 2) AS quality_e6
       |FROM ${prefix}_r)""".stripMargin
  }

  private val x4Quality = Q(
    "x4_quality_score",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.TextOps.qualityScoreMillionths(col("text")).as("quality_e6")),
    Some {
      s"""WITH ${qualityOracleCtes("qs")}
         |SELECT doc_id, quality_e6 FROM qs""".stripMargin
    })

  /** LSH-bucketed ANN (4-bit random-hyperplane buckets): candidates come
    * from a bucket equi-join, not a cross join — the scale path.
    */
  private val n2AnnLsh = Q(
    "n2_ann_lsh_topk",
    (s, d) => {
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d).select(
        col("vec_id"), S.asDouble(col("embedding")).as("v"))
      val withBucket = emb.withColumn("bucket", S.lshBucket(col("v"), 4, 32))
      val q = withBucket.where(col("vec_id") < 20)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("bucket").as("qbucket"))
      val c = withBucket.select(
        col("vec_id").as("cid"), col("v").as("cv"), col("bucket").as("cbucket"))
      S.lshTopK(q, c, 5).select(col("qid"), col("cid").as("neighbor_id"), col("rnk"))
    },
    Some {
      val bits = (1 to 4).map(j =>
        s"CASE WHEN v[$j] - v[${j + 32}] > 0 THEN ${1 << (j - 1)} ELSE 0 END").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bits AS bucket FROM e),
         |q AS (SELECT vec_id AS qid, v AS qv, bucket AS qbucket FROM b WHERE vec_id < 20),
         |c AS (SELECT vec_id AS cid, v AS cv, bucket AS cbucket FROM b),
         |sc AS (SELECT qid, cid,
         |  list_dot_product(qv, cv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))) AS cos
         |  FROM q JOIN c ON qbucket = cbucket AND cid != qid)
         |SELECT qid, cid AS neighbor_id, CAST(rnk AS INT) AS rnk
         |FROM (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk FROM sc)
         |WHERE rnk <= 5""".stripMargin
    })

  /** IVF ANN: deterministic seeded coarse quantizer, probe-cell
    * equi-join, exact cosine rank (scale path beside n2's LSH). The IVF
    * result itself is approximation-dependent (not SQL-expressible), so
    * — like a8/a12 — the hash-checked property is its ACCURACY: overall
    * recall of the probe-limited search against the exact brute-force
    * top-k, computed in-query and asserted ≥ 0.3 (the same bound the
    * ScalaTest spec pins).
    */
  private val n4AnnIvf = Q(
    "n4_ann_ivf_topk",
    (s, d) => {
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d).select(
        col("vec_id"), S.asDouble(col("embedding")).as("v"))
      // seed from the same projected frame — no second scan pipeline
      val centroids = S.seedCentroids(emb, "vec_id", "v", 16)
      val q = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val c = emb.select(col("vec_id").as("cid"), col("v").as("cv"))
      val ivf = S.ivfTopK(q, c, centroids, nProbe = 4, k = 10)
        .select(col("qid"), col("cid"))
      val exact = S.bruteForceTopK(q, c, k = 10).select(col("qid"), col("cid"))
      val hits = ivf.intersect(exact).count().toDouble
      val total = exact.count().toDouble
      val spark = s
      import spark.implicits._
      Seq((total.toLong, hits / total >= 0.3)).toDF("n_exact", "recall_ok")
    },
    Some("""SELECT CAST(100 AS BIGINT) AS n_exact, TRUE AS recall_ok
           |FROM (SELECT 1) one""".stripMargin))

  /** Product quantization: encode every embedding to m codebook indices,
    * reconstruct, and — as with a8/a12/n4 — hash-check the ACCURACY:
    * quantized vectors must stay closer to their original than to the
    * corpus mean (relative squared error < 1), on average well below.
    */
  private val n5PqQuantize = Q(
    "n5_pq_quantize",
    (s, d) => {
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d).select(
        col("vec_id"), S.asDouble(col("embedding")).as("v"))
      val codebooks = S.seedSubCentroids(emb, "vec_id", "v", m = 8, k = 16)
      val recon = S.pqDecode(S.pqEncode(col("v"), codebooks), codebooks)
      val errNum = S.dot(zipDiff(col("v"), recon), zipDiff(col("v"), recon))
      val errDen = S.dot(col("v"), col("v"))
      val perRow = emb.select(col("vec_id"), (errNum / errDen).as("rel_err"))
      perRow.agg(
        count(lit(1)).as("n_vectors"),
        (avg(col("rel_err")) < 0.9).as("avg_err_ok"),
        (max(col("rel_err")) < 2.0).as("max_err_ok"))
    },
    Some("""SELECT count(*) AS n_vectors, TRUE AS avg_err_ok, TRUE AS max_err_ok
           |FROM embeddings""".stripMargin))

  /** Distributed k-means FIT ([[graft.ops.SimilarityOps.kmeansFit]]):
    * two full Lloyd's iterations (assign → decimal-exact means →
    * re-assign), k = 4 over the 64-dim embeddings, output = every
    * vector's final cluster. Unlike a8/a12/n4's accuracy-gate oracles
    * this is a CONTENT oracle for an iterative trainer: decimal member
    * sums are order-independent (a double sum would drift with
    * partial-agg order), the mean is (exact decimal → nearest double)
    * / count, and the squared-distance fold is sequential on both
    * engines — so DuckDB replays both iterations bit-for-bit. The
    * oracle's CROSS JOIN is against the k=4 centroid rows (bounded);
    * the Spark side has no join at all — centroids are broadcast
    * literals in a narrow codegen'd argmin.
    */
  /** Generated DuckDB CTE chain replaying [[kmeansFit]]'s two Lloyd's
    * iterations (k = 4, 64 dims) — shared by n6 and the semantic-dedup
    * composition (n7). The final CTE `b2` exposes (vec_id, v, ci): the
    * final assignment with the vector still attached.
    */
  private def kmeansOracleCtes: String = kmeansOracleCtesOver("TRUE")

  /** [[kmeansOracleCtes]] generalized to a FIT SUBSET: the seed and
    * both Lloyd's update rounds run over `ef` (the rows matching
    * `fitWhere`) while the exposed final assignment `b2` covers ALL of
    * `e` against the fit's final centroids — exactly
    * [[graft.ops.SimilarityOps.kmeansFit]] on the subset followed by
    * [[graft.ops.SimilarityOps.semanticDedupAssigned]]'s frozen-codebook
    * argmin over the corpus (the n11 incremental contract). With
    * `fitWhere = TRUE` it degenerates to the shared n6/n7 chain.
    */
  private def kmeansOracleCtesOver(fitWhere: String): String = {
    val dims = 1 to 64
    val meanCols = dims.map(j =>
      s"CAST(sum(CAST(v[$j] AS DECIMAL(38,20))) AS DOUBLE) / count(*) AS m$j")
      .mkString(",\n  ")
    val arr = dims.map(j => s"m$j").mkString("[", ", ", "]")
    def assign(src: String, prev: String, out: String) =
      s"""${out}_d AS (SELECT vec_id, v, ci,
         |  list_reduce(list_prepend(0.0, [ (v[j] - cv[j]) * (v[j] - cv[j]) for j in range(1, 65) ]),
         |    (acc, x) -> acc + x) AS dist
         |  FROM $src CROSS JOIN $prev),
         |$out AS (SELECT vec_id, v, ci FROM
         |  (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY dist, ci) AS rn FROM ${out}_d)
         |  WHERE rn = 1)""".stripMargin
    s"""e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |ef AS (SELECT * FROM e WHERE $fitWhere),
       |c0 AS (SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, v AS cv
       |       FROM (SELECT * FROM ef ORDER BY vec_id LIMIT 4)),
       |${assign("ef", "c0", "b0")},
       |c1 AS (SELECT ci, $meanCols FROM b0 GROUP BY ci),
       |c1v AS (SELECT ci, $arr AS cv FROM c1),
       |${assign("ef", "c1v", "b1")},
       |c2 AS (SELECT ci, $meanCols FROM b1 GROUP BY ci),
       |c2v AS (SELECT ci, $arr AS cv FROM c2),
       |${assign("e", "c2v", "b2")}""".stripMargin
  }

  private val n6KmeansFit = Q(
    "n6_kmeans_fit",
    (s, d) => graft.ops.SimilarityOps.kmeansFit(
      T.embeddings(s, d), "vec_id", "embedding", k = 4, iters = 2)._2,
    Some {
      s"""WITH $kmeansOracleCtes
         |SELECT vec_id, CAST(ci AS INT) AS cluster FROM b2""".stripMargin
    })

  /** Semantic dedup ([[graft.ops.SimilarityOps.semanticDedup]] — the
    * SemDeDup construction): k-means clusters → within-cluster cosine
    * near-dup pairs (cluster equi-join, cluster-quadratic candidates)
    * → connected components → min-id representative per component.
    * The oracle splices the shared k-means CTE chain with the
    * recursive-reach closure of d6 — the full composition
    * (iterative fit + pair graph + components) is hash-exact.
    */
  private val n7SemanticDedup = Q(
    "n7_semantic_dedup",
    (s, d) => graft.ops.SimilarityOps.semanticDedup(
      T.embeddings(s, d), "vec_id", "embedding",
      k = 4, iters = 2, threshold = 0.35),
    Some {
      s"""WITH RECURSIVE $kmeansOracleCtes,
         |pp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM b2 a JOIN b2 b ON a.ci = b.ci AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         |    >= 0.35),
         |ee AS (SELECT id_a AS a, id_b AS bb FROM pp
         |       UNION SELECT id_b, id_a FROM pp),
         |reach(a, bb) AS (
         |  SELECT a, bb FROM ee
         |  UNION
         |  SELECT r.a, ee.bb FROM reach r JOIN ee ON r.bb = ee.a)
         |SELECT n.vec_id, CAST(n.ci AS INT) AS cluster,
         |  least(n.vec_id, coalesce(min(r.bb), n.vec_id)) AS rep
         |FROM b2 n LEFT JOIN reach r ON r.a = n.vec_id
         |GROUP BY n.vec_id, n.ci""".stripMargin
    })

  /** n12 — INCREMENTAL IVF index ([[graft.ops.IncrementalIndexOps]]):
    * the coarse quantizer is k-means-fit on the FIRST embedding shard
    * and frozen; each shard lands only its own (cell, id, vector)
    * postings; search probes the accumulated cells — no vector is ever
    * re-assigned and no index rebuilt. The oracle replays the
    * half-corpus fit with the generalized k-means CTE chain, ranks each
    * query's nProbe nearest cells by the same (distance, index)
    * tie-break as [[graft.ops.SimilarityOps.ivfProbes]], and reproduces
    * the cosine ranking bit-for-bit — index maintenance must equal an
    * index rebuild row-for-row, not just in recall.
    */
  private val n12IncrementalIvf = Q(
    "n12_incremental_ivf",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d)
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_n12_state").toString
      val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestVectorShard(s, emb.where(col("vec_id") <= mid),
        "vec_id", "embedding", stateDir, 0L, nCells = 4, iters = 2)
      I.ingestVectorShard(s, emb.where(col("vec_id") > mid),
        "vec_id", "embedding", stateDir, 1L, nCells = 4, iters = 2)
      val qset = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          S.asDouble(col("embedding")).as("qv"))
      I.ivfSearch(s, stateDir, qset, nProbe = 2, k = 10)
        .select(col("qid"), col("rnk"), col("cid"))
    },
    Some {
      val fitWhere =
        "vec_id <= (SELECT (min(vec_id) + max(vec_id)) // 2 FROM embeddings)"
      s"""WITH ${kmeansOracleCtesOver(fitWhere)},
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |pd AS (SELECT q.qid, q.qv, c.ci,
         |    list_reduce(list_prepend(0.0, [ (qv[j] - cv[j]) * (qv[j] - cv[j]) for j in range(1, 65) ]),
         |      (acc, x) -> acc + x) AS dist
         |  FROM q CROSS JOIN c2v c),
         |pr AS (SELECT qid, qv, ci FROM
         |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, ci) AS pn FROM pd)
         |  WHERE pn <= 2),
         |cand AS (SELECT pr.qid, b.vec_id AS cid,
         |    list_dot_product(pr.qv, b.v) /
         |      (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cos
         |  FROM pr JOIN b2 b ON b.ci = pr.ci AND b.vec_id <> pr.qid)
         |SELECT qid, CAST(rnk AS INT) AS rnk, cid FROM
         |  (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |   FROM cand)
         |WHERE rnk <= 10""".stripMargin
    })

  /** n13 — CODEBOOK REINDEX
    * ([[graft.ops.IncrementalIndexOps.reindexVectors]]): the escape
    * hatch from the frozen-codebook contract — an incremental IVF state
    * built shard-by-shard under the shard-1 quantizer is refit OFFLINE
    * on its own stored vectors (full fraction here) and re-assigned
    * into a fresh generation, never re-reading source embeddings.
    * Search over the reindexed state must equal an index whose codebook
    * was fit from scratch on the whole corpus: the oracle is n12's CTE
    * chain with the fit subset widened to everything (`fitWhere =
    * TRUE`), so the refit really is the from-scratch fit, bit-for-bit.
    */
  private val n13ReindexedIvf = Q(
    "n13_reindexed_ivf",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d)
      val old = java.nio.file.Files
        .createTempDirectory("graft_n13_old").toString
      val next = java.nio.file.Files
        .createTempDirectory("graft_n13_new").toString
      val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestVectorShard(s, emb.where(col("vec_id") <= mid),
        "vec_id", "embedding", old, 0L, nCells = 4, iters = 2)
      I.ingestVectorShard(s, emb.where(col("vec_id") > mid),
        "vec_id", "embedding", old, 1L, nCells = 4, iters = 2)
      I.reindexVectors(s, old, next, nCells = 4, iters = 2)
      val qset = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          S.asDouble(col("embedding")).as("qv"))
      I.ivfSearch(s, next, qset, nProbe = 2, k = 10)
        .select(col("qid"), col("rnk"), col("cid"))
    },
    Some {
      s"""WITH ${kmeansOracleCtesOver("TRUE")},
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |pd AS (SELECT q.qid, q.qv, c.ci,
         |    list_reduce(list_prepend(0.0, [ (qv[j] - cv[j]) * (qv[j] - cv[j]) for j in range(1, 65) ]),
         |      (acc, x) -> acc + x) AS dist
         |  FROM q CROSS JOIN c2v c),
         |pr AS (SELECT qid, qv, ci FROM
         |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, ci) AS pn FROM pd)
         |  WHERE pn <= 2),
         |cand AS (SELECT pr.qid, b.vec_id AS cid,
         |    list_dot_product(pr.qv, b.v) /
         |      (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cos
         |  FROM pr JOIN b2 b ON b.ci = pr.ci AND b.vec_id <> pr.qid)
         |SELECT qid, CAST(rnk AS INT) AS rnk, cid FROM
         |  (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |   FROM cand)
         |WHERE rnk <= 10""".stripMargin
    })

  /** n14 — IVF TOMBSTONES
    * ([[graft.ops.StateRoot.delete]]): vectors
    * retracted from the incremental IVF index by tombstone — the
    * frozen codebook and every surviving cell posting untouched, the
    * deleted ids anti-joined at search. The oracle is n12's CTE chain
    * (shard-1 fit, probe ranking) with the tombstoned ids excluded
    * from the candidate set — a search that merely filtered its output
    * (instead of its candidates) would still rank correctly here, so
    * the pinned property is the survivors' exact top-k under the
    * unchanged quantizer.
    */
  private val n14IvfTombstones = Q(
    "n14_ivf_tombstones",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d)
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_n14_state").toString
      val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestVectorShard(s, emb.where(col("vec_id") <= mid),
        "vec_id", "embedding", stateDir, 0L, nCells = 4, iters = 2)
      I.ingestVectorShard(s, emb.where(col("vec_id") > mid),
        "vec_id", "embedding", stateDir, 1L, nCells = 4, iters = 2)
      graft.ops.StateRoot.deleteIn(s, I.Ivf,
        emb.where(pmod(col("vec_id"), lit(9)) === 0).select("vec_id"),
        "vec_id", stateDir, 0L)
      val qset = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          S.asDouble(col("embedding")).as("qv"))
      I.ivfSearch(s, stateDir, qset, nProbe = 2, k = 10)
        .select(col("qid"), col("rnk"), col("cid"))
    },
    Some {
      val fitWhere =
        "vec_id <= (SELECT (min(vec_id) + max(vec_id)) // 2 FROM embeddings)"
      s"""WITH ${kmeansOracleCtesOver(fitWhere)},
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |pd AS (SELECT q.qid, q.qv, c.ci,
         |    list_reduce(list_prepend(0.0, [ (qv[j] - cv[j]) * (qv[j] - cv[j]) for j in range(1, 65) ]),
         |      (acc, x) -> acc + x) AS dist
         |  FROM q CROSS JOIN c2v c),
         |pr AS (SELECT qid, qv, ci FROM
         |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, ci) AS pn FROM pd)
         |  WHERE pn <= 2),
         |cand AS (SELECT pr.qid, b.vec_id AS cid,
         |    list_dot_product(pr.qv, b.v) /
         |      (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cos
         |  FROM pr JOIN b2 b ON b.ci = pr.ci AND b.vec_id <> pr.qid
         |  WHERE b.vec_id % 9 <> 0)
         |SELECT qid, CAST(rnk AS INT) AS rnk, cid FROM
         |  (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |   FROM cand)
         |WHERE rnk <= 10""".stripMargin
    })

  /** n15 — GENERATION CUTOVER
    * ([[graft.ops.BatchState.cutoverGeneration]]): the read-side
    * completion of n13's offline reindex — after the refit lands its
    * fresh directory, ONE atomic pointer flip under the original root
    * (the compaction manifest's create-overwrite=false version
    * primitive) cuts every search over; the query here searches THE
    * ROOT, never the new directory, so what the oracle pins is that
    * reindex + flip is a complete cutover with no caller-side
    * repointing. A torn pointer version (a flip that crashed
    * mid-write) is landed first and must be ignored. Oracle = n13's
    * from-scratch-fit CTE chain.
    */
  private val n15GenerationCutover = Q(
    "n15_generation_cutover",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val S = graft.ops.SimilarityOps
      val B = graft.ops.BatchState
      val emb = T.embeddings(s, d)
      val root = java.nio.file.Files
        .createTempDirectory("graft_n15_root").toString
      val gen2 = java.nio.file.Files
        .createTempDirectory("graft_n15_gen2").toString
      val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestVectorShard(s, emb.where(col("vec_id") <= mid),
        "vec_id", "embedding", root, 0L, nCells = 4, iters = 2)
      I.ingestVectorShard(s, emb.where(col("vec_id") > mid),
        "vec_id", "embedding", root, 1L, nCells = 4, iters = 2)
      I.reindexVectors(s, root, gen2, nCells = 4, iters = 2)
      // a crashed flip first: the torn version must not redirect
      val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$root/_current"))
      fs.create(new org.apache.hadoop.fs.Path(s"$root/_current/v1"),
        false).close()
      B.cutoverGeneration(s, root, gen2)
      val qset = emb.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"),
          S.asDouble(col("embedding")).as("qv"))
      I.ivfSearch(s, root, qset, nProbe = 2, k = 10)
        .select(col("qid"), col("rnk"), col("cid"))
    },
    Some {
      s"""WITH ${kmeansOracleCtesOver("TRUE")},
         |q AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |pd AS (SELECT q.qid, q.qv, c.ci,
         |    list_reduce(list_prepend(0.0, [ (qv[j] - cv[j]) * (qv[j] - cv[j]) for j in range(1, 65) ]),
         |      (acc, x) -> acc + x) AS dist
         |  FROM q CROSS JOIN c2v c),
         |pr AS (SELECT qid, qv, ci FROM
         |  (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY dist, ci) AS pn FROM pd)
         |  WHERE pn <= 2),
         |cand AS (SELECT pr.qid, b.vec_id AS cid,
         |    list_dot_product(pr.qv, b.v) /
         |      (sqrt(list_dot_product(pr.qv, pr.qv)) * sqrt(list_dot_product(b.v, b.v))) AS cos
         |  FROM pr JOIN b2 b ON b.ci = pr.ci AND b.vec_id <> pr.qid)
         |SELECT qid, CAST(rnk AS INT) AS rnk, cid FROM
         |  (SELECT qid, cid, row_number() OVER (PARTITION BY qid ORDER BY cos DESC, cid) AS rnk
         |   FROM cand)
         |WHERE rnk <= 10""".stripMargin
    })

  /** n11 — INCREMENTAL semantic dedup
    * ([[graft.ops.IncrementalDedupOps.ingestEmbeddingShard]]): the
    * SemDeDup production decomposition — the k-means codebook is fit on
    * the FIRST shard and frozen; every shard (the fit shard included)
    * is then assigned by broadcast-literal argmin, joined within-cell
    * against the persisted assignments for its new edges, and the
    * component map folded incrementally — no vector is ever re-assigned
    * and no historical edge re-read. The view after shard 2 must equal
    * the one-shot frozen-codebook run over the union
    * ([[graft.ops.SimilarityOps.semanticDedupAssigned]]); the oracle
    * replays the half-corpus fit with the generalized k-means CTE chain
    * (fit CTEs over `ef`, final assignment over all of `e`) and then
    * n7's pair + recursive-reach closure.
    */
  private val n11IncrementalSemDedup = Q(
    "n11_incremental_semdedup",
    (s, d) => {
      val emb = T.embeddings(s, d)
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_n11_state").toString
      val r = emb.agg(min(col("vec_id")), max(col("vec_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      val I = graft.ops.IncrementalDedupOps
      I.ingestEmbeddingShard(s, emb.where(col("vec_id") <= mid),
        "vec_id", "embedding", stateDir, batchId = 0L,
        k = 4, iters = 2, threshold = 0.35)
      I.ingestEmbeddingShard(s, emb.where(col("vec_id") > mid),
        "vec_id", "embedding", stateDir, batchId = 1L,
        k = 4, iters = 2, threshold = 0.35)
      I.semanticDedupView(s, stateDir, "vec_id")
    },
    Some {
      val fitWhere =
        "vec_id <= (SELECT (min(vec_id) + max(vec_id)) // 2 FROM embeddings)"
      s"""WITH RECURSIVE ${kmeansOracleCtesOver(fitWhere)},
         |pp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM b2 a JOIN b2 b ON a.ci = b.ci AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v) /
         |      (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v)))
         |    >= 0.35),
         |ee AS (SELECT id_a AS a, id_b AS bb FROM pp
         |       UNION SELECT id_b, id_a FROM pp),
         |reach(a, bb) AS (
         |  SELECT a, bb FROM ee
         |  UNION
         |  SELECT r.a, ee.bb FROM reach r JOIN ee ON r.bb = ee.a)
         |SELECT n.vec_id, CAST(n.ci AS INT) AS cluster,
         |  least(n.vec_id, coalesce(min(r.bb), n.vec_id)) AS rep
         |FROM b2 n LEFT JOIN reach r ON r.a = n.vec_id
         |GROUP BY n.vec_id, n.ci""".stripMargin
    })

  private def zipDiff(a: Column, b: Column): Column =
    zip_with(a, b, (x, y) => x - y)

  /** int8 scalar quantization ([[graft.ops.SimilarityOps.sqEncode]]):
    * per-dimension corpus [min, max] stats, then
    * `floor((v−min)·255/(max−min))` codes — a CONTENT oracle on the
    * full code arrays (not an error gate like n5): every step is one
    * IEEE double op in a pinned association order, so DuckDB recomputes
    * the stats and every code bit-for-bit. The stats pass collects
    * dimension-count rows (the bounded-driver exception class); the
    * encode is a narrow zero-shuffle map.
    */
  private val n8SqQuantize = Q(
    "n8_sq_quantize",
    (s, d) => {
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d)
      val stats = S.sqStats(emb, "embedding")
      // Codes are serialized (like every other collection-valued battery
      // query, e.g. a1/a2) so the driver comparator can sort + hash them —
      // a raw array<int> column is unsortable on the driver side.
      emb.select(col("vec_id"),
        array_join(transform(S.sqEncode(col("embedding"), stats),
          c => c.cast("string")), ",").as("codes"))
    },
    Some("""WITH x AS (SELECT vec_id, embedding AS a FROM embeddings),
           |v AS (SELECT vec_id, i, CAST(a[i] AS DOUBLE) AS val
           |      FROM x, unnest(range(1, len(a) + 1)) AS u(i)),
           |mm AS (SELECT i, min(val) AS mn, max(val) AS mx FROM v GROUP BY 1),
           |c AS (SELECT vec_id, i,
           |        CAST(CASE WHEN mx > mn THEN least(255, greatest(0,
           |          CAST(floor((val - mn) * 255.0 / (mx - mn)) AS INTEGER)))
           |        ELSE 0 END AS INTEGER) AS code
           |      FROM v JOIN mm USING (i))
           |SELECT vec_id,
           |  array_to_string(list(CAST(code AS VARCHAR) ORDER BY i), ',') AS codes
           |FROM c GROUP BY vec_id""".stripMargin))

  /** Binary quantization with exact re-rank
    * ([[graft.ops.SimilarityOps.bqTopK]]): per-dimension decimal-exact
    * mean thresholds → sign bits packed into 32-bit words → Hamming
    * shortlist (k·oversample per query on the packed codes) → exact
    * cosine re-rank of the shortlist only. The oracle replays the
    * thresholds (same DECIMAL(38,20)-sum-then-double discipline as
    * n6), the sign disagreement count (provably equal to the packed
    * `bit_count(xor)`), both window ranks, and the final cosine order —
    * the full two-stage retrieval is hash-exact.
    */
  private val n9BinaryQuantize = Q(
    "n9_binary_quantize",
    (s, d) => {
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d).select(
        col("vec_id"), S.asDouble(col("embedding")).as("v"))
      val thr = S.bqThresholds(emb, "v")
      S.bqTopK(
        emb.filter(col("vec_id") < 5)
          .select(col("vec_id").as("qid"), col("v").as("qv")),
        emb.select(col("vec_id").as("cid"), col("v").as("cv")),
        thr, k = 10, oversample = 3)
    },
    Some("""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
           |dd AS (SELECT vec_id, i, v[i] AS val
           |       FROM e, unnest(range(1, len(v) + 1)) AS u(i)),
           |th AS (SELECT i,
           |         CAST(sum(CAST(val AS DECIMAL(38,20))) AS DOUBLE) / count(*) AS t
           |       FROM dd GROUP BY 1),
           |bits AS (SELECT vec_id, i, CASE WHEN val > t THEN 1 ELSE 0 END AS bit
           |         FROM dd JOIN th USING (i)),
           |q AS (SELECT vec_id AS qid, i, bit AS qb FROM bits WHERE vec_id < 5),
           |ham AS (SELECT qid, c.vec_id AS cid,
           |          sum(CASE WHEN qb != c.bit THEN 1 ELSE 0 END) AS ham
           |        FROM q JOIN bits c USING (i) WHERE c.vec_id != qid
           |        GROUP BY 1, 2),
           |cand AS (SELECT qid, cid,
           |           row_number() OVER (PARTITION BY qid ORDER BY ham, cid) AS hrnk
           |         FROM ham),
           |s AS (SELECT qid, cid,
           |        list_dot_product(qe.v, ce.v) /
           |          (sqrt(list_dot_product(qe.v, qe.v)) *
           |           sqrt(list_dot_product(ce.v, ce.v))) AS cos
           |      FROM (SELECT qid, cid FROM cand WHERE hrnk <= 30) c
           |      JOIN e qe ON qe.vec_id = c.qid
           |      JOIN e ce ON ce.vec_id = c.cid),
           |r AS (SELECT qid, cid AS neighbor_id,
           |        CAST(row_number() OVER (PARTITION BY qid
           |          ORDER BY cos DESC, cid) AS INTEGER) AS rnk
           |      FROM s)
           |SELECT * FROM r WHERE rnk <= 10""".stripMargin))

  /** MMR diversified re-rank
    * ([[graft.ops.SimilarityOps.mmrRerank]], λ = 0.7, k = 5 from a
    * cosine top-20 shortlist): the RAG context-assembly re-ranker —
    * greedy integer-exact λμ·rel − (1−λμ)·maxSim selection, ties on
    * ascending id. The oracle UNROLLS the greedy (the g4/x31
    * iterative-oracle pattern): each pick is recomputed as the true
    * argmax given the previous picks, so one wrong selection
    * hash-mismatches at the first divergent round. Float association
    * is pinned on both sides as 10⁶·(dot/denominator) before the
    * floor.
    */
  private val n10MmrRerank = Q(
    "n10_mmr_rerank",
    (s, d) => {
      val S = graft.ops.SimilarityOps
      val emb = T.embeddings(s, d).select(
        col("vec_id"), S.asDouble(col("embedding")).as("v"))
      val q = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val c = emb.filter(pmod(col("vec_id"), lit(97)) =!= 0)
        .select(col("vec_id").as("id"), col("v").as("vec"))
      val cos = S.dot(col("qv"), col("vec")) /
        (sqrt(S.dot(col("qv"), col("qv"))) *
          sqrt(S.dot(col("vec"), col("vec"))))
      val wq = Window.partitionBy(col("qid")).orderBy(col("cos").desc, col("id"))
      val shortlist = q.join(c)
        .select(col("qid"), col("id"), col("vec"), cos.as("cos"))
        .withColumn("rr", row_number().over(wq)).where(col("rr") <= 20)
        .select(col("qid"), col("id"), col("vec"),
          floor(lit(1e6) * col("cos")).cast("long").as("rel"))
      S.mmrRerank(shortlist, "qid", "id", "rel", "vec",
        k = 5, lambdaMicro = 700000L)
    },
    Some("""WITH q AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE vec_id % 97 = 0),
           |c AS (SELECT vec_id AS id, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE vec_id % 97 <> 0),
           |sc AS (SELECT q.qid, c.id, c.v,
           |    list_dot_product(q.v, c.v) /
           |      (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(c.v, c.v))) AS cos
           |  FROM q, c),
           |sl AS (SELECT qid, id, v, CAST(floor(1000000 * cos) AS BIGINT) AS rel,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, id) AS rr
           |  FROM sc QUALIFY rr <= 20),
           |p1 AS (SELECT qid, id, v, rel, 1 AS rank, 700000 * rel AS score
           |  FROM sl QUALIFY row_number() OVER (PARTITION BY qid ORDER BY rel DESC, id) = 1),
           |s1 AS (SELECT qid, id, v FROM p1),
           |m2 AS (SELECT sl.qid, sl.id,
           |    max(CAST(floor(1000000 * (list_dot_product(sl.v, s.v) /
           |      (sqrt(list_dot_product(sl.v, sl.v)) * sqrt(list_dot_product(s.v, s.v))))) AS BIGINT)) AS msim
           |  FROM sl JOIN s1 s ON sl.qid = s.qid
           |  WHERE NOT EXISTS (SELECT 1 FROM s1 x WHERE x.qid = sl.qid AND x.id = sl.id)
           |  GROUP BY 1, 2),
           |p2 AS (SELECT sl.qid, sl.id, sl.v, sl.rel, 2 AS rank,
           |    700000 * sl.rel - 300000 * m.msim AS score
           |  FROM sl JOIN m2 m ON sl.qid = m.qid AND sl.id = m.id
           |  QUALIFY row_number() OVER (PARTITION BY sl.qid ORDER BY score DESC, sl.id) = 1),
           |s2 AS (SELECT qid, id, v FROM s1 UNION ALL SELECT qid, id, v FROM p2),
           |m3 AS (SELECT sl.qid, sl.id,
           |    max(CAST(floor(1000000 * (list_dot_product(sl.v, s.v) /
           |      (sqrt(list_dot_product(sl.v, sl.v)) * sqrt(list_dot_product(s.v, s.v))))) AS BIGINT)) AS msim
           |  FROM sl JOIN s2 s ON sl.qid = s.qid
           |  WHERE NOT EXISTS (SELECT 1 FROM s2 x WHERE x.qid = sl.qid AND x.id = sl.id)
           |  GROUP BY 1, 2),
           |p3 AS (SELECT sl.qid, sl.id, sl.v, sl.rel, 3 AS rank,
           |    700000 * sl.rel - 300000 * m.msim AS score
           |  FROM sl JOIN m3 m ON sl.qid = m.qid AND sl.id = m.id
           |  QUALIFY row_number() OVER (PARTITION BY sl.qid ORDER BY score DESC, sl.id) = 1),
           |s3 AS (SELECT qid, id, v FROM s2 UNION ALL SELECT qid, id, v FROM p3),
           |m4 AS (SELECT sl.qid, sl.id,
           |    max(CAST(floor(1000000 * (list_dot_product(sl.v, s.v) /
           |      (sqrt(list_dot_product(sl.v, sl.v)) * sqrt(list_dot_product(s.v, s.v))))) AS BIGINT)) AS msim
           |  FROM sl JOIN s3 s ON sl.qid = s.qid
           |  WHERE NOT EXISTS (SELECT 1 FROM s3 x WHERE x.qid = sl.qid AND x.id = sl.id)
           |  GROUP BY 1, 2),
           |p4 AS (SELECT sl.qid, sl.id, sl.v, sl.rel, 4 AS rank,
           |    700000 * sl.rel - 300000 * m.msim AS score
           |  FROM sl JOIN m4 m ON sl.qid = m.qid AND sl.id = m.id
           |  QUALIFY row_number() OVER (PARTITION BY sl.qid ORDER BY score DESC, sl.id) = 1),
           |s4 AS (SELECT qid, id, v FROM s3 UNION ALL SELECT qid, id, v FROM p4),
           |m5 AS (SELECT sl.qid, sl.id,
           |    max(CAST(floor(1000000 * (list_dot_product(sl.v, s.v) /
           |      (sqrt(list_dot_product(sl.v, sl.v)) * sqrt(list_dot_product(s.v, s.v))))) AS BIGINT)) AS msim
           |  FROM sl JOIN s4 s ON sl.qid = s.qid
           |  WHERE NOT EXISTS (SELECT 1 FROM s4 x WHERE x.qid = sl.qid AND x.id = sl.id)
           |  GROUP BY 1, 2),
           |p5 AS (SELECT sl.qid, sl.id, sl.v, sl.rel, 5 AS rank,
           |    700000 * sl.rel - 300000 * m.msim AS score
           |  FROM sl JOIN m5 m ON sl.qid = m.qid AND sl.id = m.id
           |  QUALIFY row_number() OVER (PARTITION BY sl.qid ORDER BY score DESC, sl.id) = 1),
           |u AS (SELECT qid, id, rank, score FROM p1
           |  UNION ALL SELECT qid, id, rank, score FROM p2
           |  UNION ALL SELECT qid, id, rank, score FROM p3
           |  UNION ALL SELECT qid, id, rank, score FROM p4
           |  UNION ALL SELECT qid, id, rank, score FROM p5)
           |SELECT qid, CAST(rank AS INT) AS rank, id,
           |  CAST(score AS BIGINT) AS mmr_score
           |FROM u""".stripMargin))

  /** Embedding-cosine near-duplicate pairs: LSH-bucket candidates +
    * exact cosine ≥ threshold (the embedding sibling of d2b).
    */
  private val n3EmbNearDup = Q(
    "n3_embedding_neardup",
    (s, d) => graft.ops.SimilarityOps
      .nearDupPairs(T.embeddings(s, d), "vec_id", "embedding",
        nBits = 4, half = 32, threshold = 0.35)
      .select(col("id_a"), col("id_b"),
        round(col("cos"), 6).as("cos_r")),
    Some {
      val bits = (1 to 4).map(j =>
        s"CASE WHEN v[$j] - v[${j + 32}] > 0 THEN ${1 << (j - 1)} ELSE 0 END").mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
         |b AS (SELECT vec_id, v, $bits AS bucket FROM e),
         |p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b,
         |        list_dot_product(a.v, b2.v) /
         |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v))) AS cos
         |      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id)
         |SELECT id_a, id_b, round(cos, 6) AS cos_r FROM p WHERE cos >= 0.35""".stripMargin
    })

  /** Multimodal batch decode over REAL containers: audio payloads are
    * actual PCM16 WAV, image payloads actual 24-bpp BMP, and video
    * payloads actual uncompressed 24-bpp AVI
    * ([[graft.ops.MultimodalOps.mediaFromDocumentsReal]]), decoded by
    * [[graft.ops.MultimodalOps.CodecDecoder]] through the same
    * `extractFeatures` mapPartitions seam production would use — no
    * byte-stat stub for any media type. The per-type float features are
    * de-rounded back to the integers they encode (multiply means back
    * by their counts; exact while the underlying sums stay < 2²⁴ —
    * audio sum ≤ 254·32768 = 8 323 072, image sums ≤ 144·255, video
    * sums ≤ 980·255 = 249 900), so the oracle recomputes DECODED
    * sample / pixel / frame statistics in closed form: a mis-parsed
    * chunk, BGR slip, row-flip or frame-order error hash-mismatches.
    * Float vectors stay pinned by MultimodalSpec/MediaCodecsSpec.
    */
  private val m2MultimodalDecode = Q(
    "m2_multimodal_decode",
    (s, d) => {
      val media = graft.ops.MultimodalOps
        .mediaFromDocumentsReal(T.documents(s, d)).toDF()
      val feats = graft.ops.MultimodalOps
        .extractFeatures(media, shards = 8,
          decoder = graft.ops.MultimodalOps.CodecDecoder).toDF()
      val f = (i: Int) => col("feature").getItem(i).cast("double")
      val np = f(0) * f(1) // image pixel count (w·h, both exact in f32)
      def sCol(i: Int): Column = {
        val audio: Column = i match {
          case 0 | 1 | 2 | 5 => round(f(i))        // n, rate, channels, peak
          case 3 | 4         => round(f(i) * f(0)) // mean·n → sum, sum_abs
          case _             => lit(0.0)
        }
        val image: Column = i match {
          case 0 | 1     => round(f(i))                 // width, height
          case 2 | 3 | 4 => round(f(i) * np)            // mean·np → channel sums
          case 5         => round(f(5) * lit(4.0) * np) // luma·4np → r+2g+b
          case _         => lit(0.0)
        }
        val video: Column = i match {
          case 0 | 1 | 2 | 6 => round(f(i))      // width, height, frames, period ms
          case 3 | 4 | 5     => round(f(i) * f(0) * f(1) * f(2)) // mean·w·h·nF → sums
          case _             => lit(0.0)
        }
        when(col("media_type") === "audio", audio)
          .when(col("media_type") === "image", image)
          .otherwise(video)
          .cast("long").as(s"s$i")
      }
      feats.select(Seq(col("asset_id"), col("media_type"), col("byte_len")) ++
        (0 until 8).map(sCol): _*)
    },
    Some {
      s"""WITH wav_s AS (
         |  SELECT doc_id, unnest(range(0, 64 + doc_id % 191)) AS i
         |  FROM documents WHERE doc_id % 3 = 1),
         |wav_v AS (
         |  SELECT doc_id,
         |    (doc_id * 2654435761 + i * 40503) % 65536 - 32768 AS smp
         |  FROM wav_s),
         |audio AS (
         |  SELECT doc_id AS asset_id, 'audio' AS media_type,
         |    CAST(44 + 2 * count(*) AS BIGINT) AS byte_len,
         |    CAST(count(*) AS BIGINT) AS s0,
         |    CAST(8000 AS BIGINT) AS s1, CAST(1 AS BIGINT) AS s2,
         |    CAST(sum(smp) AS BIGINT) AS s3,
         |    CAST(sum(abs(smp)) AS BIGINT) AS s4,
         |    CAST(max(abs(smp)) AS BIGINT) AS s5,
         |    CAST(0 AS BIGINT) AS s6, CAST(0 AS BIGINT) AS s7
         |  FROM wav_v GROUP BY doc_id),
         |bmp_a AS (
         |  SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
         |  FROM documents WHERE doc_id % 3 = 0),
         |bmp_p AS (
         |  SELECT doc_id, w, h, unnest(range(0, w * h)) AS idx FROM bmp_a),
         |bmp_v AS (
         |  SELECT doc_id, w, h,
         |    (doc_id + 7 * (idx % w) + 13 * (idx // w)) % 256 AS r,
         |    (3 * doc_id + 5 * (idx % w) + (idx // w)) % 256 AS g,
         |    (11 * doc_id + (idx % w) + 2 * (idx // w)) % 256 AS b
         |  FROM bmp_p),
         |image AS (
         |  SELECT doc_id AS asset_id, 'image' AS media_type,
         |    CAST(54 + any_value(h) * ((3 * any_value(w) + 3) // 4 * 4) AS BIGINT) AS byte_len,
         |    CAST(any_value(w) AS BIGINT) AS s0,
         |    CAST(any_value(h) AS BIGINT) AS s1,
         |    CAST(sum(r) AS BIGINT) AS s2,
         |    CAST(sum(g) AS BIGINT) AS s3,
         |    CAST(sum(b) AS BIGINT) AS s4,
         |    CAST(sum(r) + 2 * sum(g) + sum(b) AS BIGINT) AS s5,
         |    CAST(0 AS BIGINT) AS s6, CAST(0 AS BIGINT) AS s7
         |  FROM bmp_v GROUP BY doc_id),
         |vid_a AS (
         |  SELECT doc_id, 4 + doc_id % 11 AS w, 3 + doc_id % 5 AS h,
         |         2 + doc_id % 9 AS nf
         |  FROM documents WHERE doc_id % 3 = 2),
         |vid_f AS (
         |  SELECT doc_id, w, h, nf, unnest(range(0, nf)) AS f FROM vid_a),
         |vid_p AS (
         |  SELECT doc_id, w, h, nf, f, unnest(range(0, w * h)) AS idx FROM vid_f),
         |vid_v AS (
         |  SELECT doc_id, w, h, nf,
         |    (doc_id + 7 * (idx % w) + 13 * (idx // w) + 17 * f) % 256 AS r,
         |    (3 * doc_id + 5 * (idx % w) + (idx // w) + 29 * f) % 256 AS g,
         |    (11 * doc_id + (idx % w) + 2 * (idx // w) + 23 * f) % 256 AS b
         |  FROM vid_p),
         |video AS (
         |  SELECT doc_id AS asset_id, 'video' AS media_type,
         |    CAST(224 + any_value(nf) * (8 + ((3 * any_value(w) + 3) // 4 * 4) * any_value(h)) AS BIGINT) AS byte_len,
         |    CAST(any_value(w) AS BIGINT) AS s0,
         |    CAST(any_value(h) AS BIGINT) AS s1,
         |    CAST(any_value(nf) AS BIGINT) AS s2,
         |    CAST(sum(r) AS BIGINT) AS s3,
         |    CAST(sum(g) AS BIGINT) AS s4,
         |    CAST(sum(b) AS BIGINT) AS s5,
         |    CAST(200 AS BIGINT) AS s6,
         |    CAST(0 AS BIGINT) AS s7
         |  FROM vid_v GROUP BY doc_id)
         |SELECT * FROM audio
         |UNION ALL SELECT * FROM image
         |UNION ALL SELECT * FROM video""".stripMargin
    })

  /** Dedup cluster formation: connected components over the embedding
    * near-dup pair graph (iterative min-label propagation, two shuffles
    * per round) — every corpus member labeled with its component's
    * minimum id, singletons labeling themselves. The oracle computes the
    * same labeling in DuckDB with a recursive transitive-closure CTE
    * over the identical LSH-bucketed pair set.
    */
  private val d5DedupClusters = Q(
    "d5_dedup_clusters",
    (s, d) => {
      val emb = T.embeddings(s, d)
      val pairs = graft.ops.SimilarityOps.nearDupPairs(
        emb, "vec_id", "embedding", nBits = 4, half = 32, threshold = 0.35)
      graft.ops.DedupOps.connectedComponents(
        emb.select(col("vec_id")), "vec_id", pairs, "id_a", "id_b")
    },
    Some {
      val bits = (1 to 4).map(j =>
        s"CASE WHEN v[$j] - v[${j + 32}] > 0 THEN ${1 << (j - 1)} ELSE 0 END").mkString(" + ")
      s"""WITH RECURSIVE
         |b AS (SELECT vec_id, embedding::DOUBLE[] AS v, $bits AS bucket
         |      FROM embeddings),
         |p AS (SELECT a.vec_id AS id_a, b2.vec_id AS id_b
         |      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
         |      WHERE list_dot_product(a.v, b2.v) /
         |          (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b2.v, b2.v)))
         |        >= 0.35),
         |e AS (SELECT id_a AS a, id_b AS bb FROM p
         |      UNION SELECT id_b, id_a FROM p),
         |reach(a, bb) AS (
         |  SELECT a, bb FROM e
         |  UNION
         |  SELECT r.a, e.bb FROM reach r JOIN e ON r.bb = e.a)
         |SELECT n.vec_id,
         |  least(n.vec_id, coalesce(min(r.bb), n.vec_id)) AS cluster
         |FROM embeddings n LEFT JOIN reach r ON r.a = n.vec_id
         |GROUP BY n.vec_id""".stripMargin
    })

  /** The dedup pipeline end-to-end: exact n-gram Jaccard pairs →
    * connected components → keep each component's representative (its
    * minimum doc id) — the corpus a training run would actually consume.
    * Emits md5(text) rather than the text so the row stays scalar.
    */
  private val d6DedupCorpus = Q(
    "d6_dedup_corpus",
    (s, d) => {
      val docs = T.documents(s, d)
      val pairs = graft.ops.DedupOps.ngramJaccardPairs(
        docs, "doc_id", "text", shingleN = 3, threshold = 0.5)
      val clusters = graft.ops.DedupOps.connectedComponents(
        docs.select(col("doc_id")), "doc_id", pairs, "doc_a", "doc_b")
      docs
        .join(clusters.where(col("doc_id") === col("cluster")).select("doc_id"),
          Seq("doc_id"))
        .select(col("doc_id"), md5(col("text")).as("text_md5"))
    },
    Some("""WITH RECURSIVE
           |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh FROM t),
           |ds AS (SELECT doc_id, unnest(sh) AS s FROM g),
           |sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM ds a JOIN ds b USING (s)
           |  JOIN sz sa ON sa.doc_id = a.doc_id
           |  JOIN sz sb ON sb.doc_id = b.doc_id
           |  WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2, sa.n, sb.n
           |  HAVING CAST(count(*) AS DOUBLE)/(sa.n + sb.n - count(*)) >= 0.5),
           |e AS (SELECT doc_a AS a, doc_b AS bb FROM p
           |      UNION SELECT doc_b, doc_a FROM p),
           |reach(a, bb) AS (
           |  SELECT a, bb FROM e
           |  UNION
           |  SELECT r.a, e.bb FROM reach r JOIN e ON r.bb = e.a)
           |SELECT d.doc_id, md5(d.text) AS text_md5
           |FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
           |GROUP BY d.doc_id, d.text
           |HAVING least(d.doc_id, coalesce(min(r.bb), d.doc_id)) = d.doc_id""".stripMargin))

  /** Leakage-free train/val/test splits
    * ([[graft.ops.CorpusOps.leakageFreeSplits]], 10% test / 10% val,
    * same near-dup graph as d6): split assignment keyed by the
    * connected COMPONENT representative's md5 — a near-dup pair can
    * never straddle splits. The oracle replays the full closure (the
    * d6 recursive CTE) and the same threshold arithmetic
    * (round(f·65536) → 4-hex compare).
    */
  private val x29LeakageSplits = Q(
    "x29_leakage_free_splits",
    (s, d) => graft.ops.CorpusOps.leakageFreeSplits(
      T.documents(s, d), "doc_id", "text", shingleN = 3, threshold = 0.5,
      testFrac = 0.1, valFrac = 0.1),
    Some("""WITH RECURSIVE
           |t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id, list_distinct([array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]) AS sh FROM t),
           |ds AS (SELECT doc_id, unnest(sh) AS s FROM g),
           |sz AS (SELECT doc_id, count(*) AS n FROM ds GROUP BY 1),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
           |  FROM ds a JOIN ds b USING (s)
           |  JOIN sz sa ON sa.doc_id = a.doc_id
           |  JOIN sz sb ON sb.doc_id = b.doc_id
           |  WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2, sa.n, sb.n
           |  HAVING CAST(count(*) AS DOUBLE)/(sa.n + sb.n - count(*)) >= 0.5),
           |e AS (SELECT doc_a AS a, doc_b AS bb FROM p
           |      UNION SELECT doc_b, doc_a FROM p),
           |reach(a, bb) AS (
           |  SELECT a, bb FROM e
           |  UNION
           |  SELECT r.a, e.bb FROM reach r JOIN e ON r.bb = e.a),
           |c AS (SELECT d.doc_id,
           |        least(d.doc_id, coalesce(min(r.bb), d.doc_id)) AS cluster
           |      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
           |      GROUP BY d.doc_id)
           |SELECT doc_id, cluster,
           |  CASE WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 4) <
           |         printf('%04x', CAST(round(0.1 * 65536) AS BIGINT)) THEN 'test'
           |       WHEN substr(md5(CAST(cluster AS VARCHAR)), 1, 4) <
           |         printf('%04x', CAST(round(0.2 * 65536) AS BIGINT)) THEN 'val'
           |       ELSE 'train' END AS split
           |FROM c""".stripMargin))

  /** BM25 top-k retrieval ([[graft.ops.RetrievalOps.bm25TopK]]): every
    * benchmark document (the x8 `% 97` split) retrieves its 10 best
    * corpus documents through the inverted-index join, scored by the
    * integer-rational BM25 variant (one long floor-division per
    * matched term — see the op's scaladoc for the cleared-fraction
    * derivation), ties broken on ascending doc id. The oracle replays
    * the identical postings/df/global tables and the same single
    * floor-division.
    */
  private val x30Bm25 = Q(
    "x30_bm25_retrieval",
    (s, d) => {
      val docs = T.documents(s, d)
      graft.ops.RetrievalOps.bm25TopK(
        corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
        queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
          .select(col("doc_id").as("qid"), col("text")),
        idCol = "doc_id", textCol = "text",
        qidCol = "qid", qtextCol = "text", k = 10)
    },
    Some("""WITH ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents WHERE doc_id % 97 <> 0),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
           |    count(*) AS n_match FROM cand GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score, n_match,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM sc)
           |SELECT qid, rank, doc_id, score, n_match FROM r WHERE rank <= 10""".stripMargin))

  /** x36 — INCREMENTAL BM25 ([[graft.ops.IncrementalIndexOps]]): x30's
    * corpus ingested as two shards into batch-partitioned inverted-index
    * state (postings/doclen/df/globals — every BM25 statistic is
    * additive over disjoint doc sets), searched without re-tokenizing
    * anything. Shares x30's oracle verbatim: index maintenance must be
    * indistinguishable from an index rebuild, hash-exactly (the
    * integer-rational scoring makes that a strict equality, not an
    * approximation gate).
    */
  private val x36IncrementalBm25 = Q(
    "x36_incremental_bm25",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val docs = T.documents(s, d)
      val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_x36_state").toString
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestTextShard(s, corpus.where(col("doc_id") <= mid),
        "doc_id", "text", stateDir, batchId = 0L)
      I.ingestTextShard(s, corpus.where(col("doc_id") > mid),
        "doc_id", "text", stateDir, batchId = 1L)
      I.bm25Search(s, stateDir, queries, "qid", "text", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""WITH ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents WHERE doc_id % 97 <> 0),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
           |    count(*) AS n_match FROM cand GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score, n_match,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM sc)
           |SELECT qid, rank, doc_id, score, n_match FROM r WHERE rank <= 10""".stripMargin))

  /** x37 — BM25 TOMBSTONES
    * ([[graft.ops.StateRoot.delete]]): the curation
    * composition an append-only index cannot express — ingest shard 1,
    * RETRACT a subset of it (negative-delta df/N/totlen batch + an
    * anti-joined tombstone set, derived from stored postings, text
    * never re-read), ingest shard 2, search. The result must be
    * row-identical to one-shot BM25 over the SURVIVING corpus — same
    * oracle shape as x30/x36 with the deleted ids excluded from every
    * statistic, so a stats-only filter (right list, wrong idf) would
    * hash-mismatch.
    */
  private val x37Bm25Tombstones = Q(
    "x37_bm25_tombstones",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val docs = T.documents(s, d)
      val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_x37_state").toString
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestTextShard(s, corpus.where(col("doc_id") <= mid),
        "doc_id", "text", stateDir, batchId = 0L)
      graft.ops.StateRoot.deleteIn(s, I.Bm25,
        corpus.where(col("doc_id") <= mid &&
          pmod(col("doc_id"), lit(13)) === 0).select("doc_id"),
        "doc_id", stateDir, batchId = 0L)
      I.ingestTextShard(s, corpus.where(col("doc_id") > mid),
        "doc_id", "text", stateDir, batchId = 1L)
      I.bm25Search(s, stateDir, queries, "qid", "text", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""WITH mid AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS m
           |  FROM documents WHERE doc_id % 97 <> 0),
           |ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents CROSS JOIN mid
           |  WHERE doc_id % 97 <> 0
           |    AND NOT (doc_id % 13 = 0 AND doc_id <= mid.m)),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
           |    count(*) AS n_match FROM cand GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score, n_match,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM sc)
           |SELECT qid, rank, doc_id, score, n_match FROM r WHERE rank <= 10""".stripMargin))

  /** x38 — AGE-BASED RETENTION (TTL,
    * [[graft.ops.StateRoot.expire]]): the last
    * operational verb of the state family — batches below the floor
    * leave the ACTIVE view wholesale (no per-id tombstones), and the
    * search over what remains must equal an index built from the
    * surviving shards alone. Three shards land, the floor retires the
    * first; the oracle is the canonical BM25 chain over the corpus
    * minus the first third — stale statistics from the retired shard
    * (df, N, totlen) would hash-mismatch every score.
    */
  private val x38BmTtl = Q(
    "x38_bm25_ttl",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val docs = T.documents(s, d)
      val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_x38_state").toString
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      I.ingestTextShard(s, corpus.where(col("doc_id") <= cut1),
        "doc_id", "text", stateDir, batchId = 0L)
      I.ingestTextShard(s, corpus.where(
        col("doc_id") > cut1 && col("doc_id") <= cut2),
        "doc_id", "text", stateDir, batchId = 1L)
      I.ingestTextShard(s, corpus.where(col("doc_id") > cut2),
        "doc_id", "text", stateDir, batchId = 2L)
      graft.ops.StateRoot(I.Bm25, stateDir)
        .expire(s, minActiveBatchId = 1L)
      I.bm25Search(s, stateDir, queries, "qid", "text", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""WITH cut AS (SELECT min(doc_id) + (max(doc_id) - min(doc_id)) // 3 AS c
           |  FROM documents WHERE doc_id % 97 <> 0),
           |ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents CROSS JOIN cut
           |  WHERE doc_id % 97 <> 0 AND doc_id > cut.c),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
           |    count(*) AS n_match FROM cand GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score, n_match,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM sc)
           |SELECT qid, rank, doc_id, score, n_match FROM r WHERE rank <= 10""".stripMargin))

  /** x39 — AS-OF SEARCH
    * ([[graft.ops.IncrementalIndexOps.bm25Search]] with `asOfBatch`):
    * the audit verb — the index read at a historical batch cut, every
    * statistic (df, N, totlen) computed from the cut alone, so the
    * result is row-identical to a search taken when that batch was
    * newest. Three shards land; the query reads as-of batch 1; the
    * oracle is the canonical BM25 chain over the first two thirds —
    * a cut that leaked the third shard's df or globals would shift
    * every score.
    */
  private val x39BmAsOf = Q(
    "x39_bm25_asof",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val docs = T.documents(s, d)
      val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_x39_state").toString
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      I.ingestTextShard(s, corpus.where(col("doc_id") <= cut1),
        "doc_id", "text", stateDir, batchId = 0L)
      I.ingestTextShard(s, corpus.where(
        col("doc_id") > cut1 && col("doc_id") <= cut2),
        "doc_id", "text", stateDir, batchId = 1L)
      I.ingestTextShard(s, corpus.where(col("doc_id") > cut2),
        "doc_id", "text", stateDir, batchId = 2L)
      I.bm25Search(s, stateDir, queries, "qid", "text", k = 10,
        asOfBatch = Some(1L))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""WITH cut AS (SELECT min(doc_id) + (2 * (max(doc_id) - min(doc_id))) // 3 AS c
           |  FROM documents WHERE doc_id % 97 <> 0),
           |ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents CROSS JOIN cut
           |  WHERE doc_id % 97 <> 0 AND doc_id <= cut.c),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
           |    count(*) AS n_match FROM cand GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score, n_match,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM sc)
           |SELECT qid, rank, doc_id, score, n_match FROM r WHERE rank <= 10""".stripMargin))

  /** x40 — DELETION-AWARE ALIGNED AS-OF
    * ([[graft.ops.IncrementalIndexOps.bm25Search]] with `asOfBatch` on
    * a tombstoned, UNPURGED index): each deletion batch records the max
    * main batch id its delta was derived against (`ceiling`), and a cut
    * at or above every landed ceiling is consistent with the
    * interleaved (ingest, delete) ledger order. Shards 0 and 1 land,
    * the deletion runs (ceiling 1), shard 2 lands; the cut at batch 1
    * serves WITH the tombstones applied — the oracle is the canonical
    * BM25 chain over the first two thirds minus the deleted ids. A cut
    * below the ceiling refuses (spec-covered in AsOfSearchSpec).
    */
  private val x40BmAsOfAligned = Q(
    "x40_bm25_asof_aligned",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val docs = T.documents(s, d)
      val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_x40_state").toString
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      I.ingestTextShard(s, corpus.where(col("doc_id") <= cut1),
        "doc_id", "text", stateDir, batchId = 0L)
      I.ingestTextShard(s, corpus.where(
        col("doc_id") > cut1 && col("doc_id") <= cut2),
        "doc_id", "text", stateDir, batchId = 1L)
      // derived against batches {0,1} -> recorded ceiling 1
      graft.ops.StateRoot.deleteIn(s, I.Bm25,
        corpus.where(col("doc_id") <= cut2 &&
          pmod(col("doc_id"), lit(13)) === 0).select("doc_id"),
        "doc_id", stateDir, batchId = 0L)
      I.ingestTextShard(s, corpus.where(col("doc_id") > cut2),
        "doc_id", "text", stateDir, batchId = 2L)
      I.bm25Search(s, stateDir, queries, "qid", "text", k = 10,
        asOfBatch = Some(1L))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""WITH cut AS (SELECT min(doc_id) + (2 * (max(doc_id) - min(doc_id))) // 3 AS c
           |  FROM documents WHERE doc_id % 97 <> 0),
           |ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents CROSS JOIN cut
           |  WHERE doc_id % 97 <> 0 AND doc_id <= cut.c
           |    AND doc_id % 13 <> 0),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
           |    count(*) AS n_match FROM cand GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score, n_match,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM sc)
           |SELECT qid, rank, doc_id, score, n_match FROM r WHERE rank <= 10""".stripMargin))

  /** x41 — RETAINED-HISTORY AS-OF
    * ([[graft.ops.BatchState.setHistoryFloor]] +
    * [[graft.ops.BatchState.landedBatchIdsAsOf]]): with a declared
    * history floor, compaction keeps the folded batch directories and
    * every manifest version on disk, so a cut BELOW the fold resolves
    * through the pre-fold manifest instead of refusing. Three shards
    * land, compaction folds them to one merged batch, and the cut at
    * batch 1 still serves — hash-equal to x39's oracle (the two-thirds
    * prefix), which is exactly what a search taken at that moment
    * returned. Without the floor the same cut throws (spec-covered).
    */
  private val x41BmAsOfHistory = Q(
    "x41_bm25_asof_history",
    (s, d) => {
      val I = graft.ops.IncrementalIndexOps
      val docs = T.documents(s, d)
      val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_x41_state").toString
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      val (cut1, cut2) = (lo + (hi - lo) / 3, lo + 2 * (hi - lo) / 3)
      val root = graft.ops.StateRoot(I.Bm25, stateDir)
      root.retainHistory(s)
      I.ingestTextShard(s, corpus.where(col("doc_id") <= cut1),
        "doc_id", "text", stateDir, batchId = 0L)
      I.ingestTextShard(s, corpus.where(
        col("doc_id") > cut1 && col("doc_id") <= cut2),
        "doc_id", "text", stateDir, batchId = 1L)
      I.ingestTextShard(s, corpus.where(col("doc_id") > cut2),
        "doc_id", "text", stateDir, batchId = 2L)
      root.compact(s)
      I.bm25Search(s, stateDir, queries, "qid", "text", k = 10,
        asOfBatch = Some(1L))
        .withColumnRenamed("id", "doc_id")
    },
    Some("""WITH cut AS (SELECT min(doc_id) + (2 * (max(doc_id) - min(doc_id))) // 3 AS c
           |  FROM documents WHERE doc_id % 97 <> 0),
           |ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents CROSS JOIN cut
           |  WHERE doc_id % 97 <> 0 AND doc_id <= cut.c),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
           |    count(*) AS n_match FROM cand GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score, n_match,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM sc)
           |SELECT qid, rank, doc_id, score, n_match FROM r WHERE rank <= 10""".stripMargin))

  /** st_streamed_deletion — the streaming DELETION twin
    * ([[graft.streaming.Streaming.deletionIngest]] on a BM25 root): a
    * continuous takedown feed drained through the deletion harness — each
    * micro-batch of ids lands a tombstone batch in the index's
    * deletion root under the root's own `_input` ledger (replay skips,
    * crash re-chooses the same id). Two micro-batches together delete
    * exactly x37's set, so the search must hash-equal x37's oracle
    * (the one-shot BM25 chain over the survivors) — a harness that
    * dropped, doubled, or mis-ordered a deletion hash-mismatches.
    */
  private val stStreamedDeletion = Q(
    "st_streamed_deletion",
    (s, d) => {
      import org.apache.hadoop.fs.Path
      val I = graft.ops.IncrementalIndexOps
      val docs = T.documents(s, d)
      val corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0)
      val queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
        .select(col("doc_id").as("qid"), col("text"))
      val base = java.nio.file.Files
        .createTempDirectory("graft_stdel").toString
      val (watch, ckpt, state) =
        (s"$base/in", s"$base/ckpt", s"$base/state")
      val fs = new Path(base).getFileSystem(
        s.sparkContext.hadoopConfiguration)
      fs.mkdirs(new Path(watch))
      val r = corpus.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      I.ingestTextShard(s, corpus.where(col("doc_id") <= mid),
        "doc_id", "text", state, batchId = 0L)
      I.ingestTextShard(s, corpus.where(col("doc_id") > mid),
        "doc_id", "text", state, batchId = 1L)
      val doomed = corpus.where(col("doc_id") <= mid &&
        pmod(col("doc_id"), lit(13)) === 0).select("doc_id")
      def drain(): Unit = graft.streaming.Streaming.deletionIngest(
        s, watch, doomed.schema, ckpt, graft.ops.StateRoot(I.Bm25, state),
        "doc_id")
      landShard(fs, base, watch, doomed.where(pmod(col("doc_id"), lit(26)) === 0), "d1")
      drain()
      landShard(fs, base, watch, doomed.where(pmod(col("doc_id"), lit(26)) === 13), "d2")
      drain()
      I.bm25Search(s, state, queries, "qid", "text", k = 10)
        .withColumnRenamed("id", "doc_id")
    },
    Some("""WITH mid AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS m
           |  FROM documents WHERE doc_id % 97 <> 0),
           |ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents CROSS JOIN mid
           |  WHERE doc_id % 97 <> 0
           |    AND NOT (doc_id % 13 = 0 AND doc_id <= mid.m)),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score,
           |    count(*) AS n_match FROM cand GROUP BY 1, 2),
           |r AS (SELECT qid, doc_id, score, n_match,
           |    CAST(row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS INT) AS rank
           |  FROM sc)
           |SELECT qid, rank, doc_id, score, n_match FROM r WHERE rank <= 10""".stripMargin))

  /** Hybrid retrieval by reciprocal-rank fusion
    * ([[graft.ops.RetrievalOps.rrfFuse]]): the x30 BM25 lexical
    * ranking and an embedding-cosine dense ranking (n1's brute-force
    * baseline over the SAME corpus/query split — doc_id ≡ vec_id in
    * the testdata), each to depth 20, fused with integer-rational
    * ⌊10⁶/(60+rank)⌋ contributions — bit-exact under any agg order.
    * The oracle recomputes both rankers and the fusion independently.
    */
  private val x33RrfFusion = Q(
    "x33_rrf_fusion",
    (s, d) => {
      val docs = T.documents(s, d)
      val lex = graft.ops.RetrievalOps.bm25TopK(
        corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
        queries = docs.where(pmod(col("doc_id"), lit(97)) === 0)
          .select(col("doc_id").as("qid"), col("text")),
        idCol = "doc_id", textCol = "text",
        qidCol = "qid", qtextCol = "text", k = 20)
        .select(col("qid"), col("doc_id"), col("rank"))
      val emb = T.embeddings(s, d).select(
        col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      val q = emb.filter(pmod(col("vec_id"), lit(97)) === 0)
        .select(col("vec_id").as("qid"), col("v").as("qv"))
      val c = emb.filter(pmod(col("vec_id"), lit(97)) =!= 0)
        .select(col("vec_id").as("doc_id"), col("v").as("cv"))
      def dot(a: Column, b: Column): Column = graft.ops.SimilarityOps.dot(a, b)
      val scored = q.join(c)
        .select(col("qid"), col("doc_id"),
          (dot(col("qv"), col("cv")) /
            (sqrt(dot(col("qv"), col("qv"))) * sqrt(dot(col("cv"), col("cv")))))
            .as("cos"))
      val wd = Window.partitionBy(col("qid"))
        .orderBy(col("cos").desc, col("doc_id"))
      val dense = scored.withColumn("rank", row_number().over(wd))
        .where(col("rank") <= 20)
        .select(col("qid"), col("doc_id"), col("rank"))
      graft.ops.RetrievalOps.rrfFuse(Seq(lex, dense),
        "qid", "doc_id", "rank", k0 = 60, k = 10, depth = 20)
    },
    Some("""WITH ct AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents WHERE doc_id % 97 <> 0),
           |p AS (SELECT doc_id, token, count(*) AS tf FROM ct GROUP BY 1, 2),
           |dlen AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM p GROUP BY 1),
           |dfq AS (SELECT token, count(*) AS df FROM p GROUP BY 1),
           |g AS (SELECT count(*) AS n_docs, CAST(sum(dl) AS BIGINT) AS totlen FROM dlen),
           |qt AS (SELECT DISTINCT qid, token FROM
           |  (SELECT doc_id AS qid, unnest(string_split_regex(trim(text), '\s+')) AS token
           |   FROM documents WHERE doc_id % 97 = 0)),
           |cand AS (SELECT qt.qid, p.doc_id,
           |    (g.n_docs * 88 * p.tf * g.totlen * 1000) //
           |      (dfq.df * (40*p.tf*g.totlen + 12*g.totlen + 36*dlen.dl*g.n_docs)) AS contrib
           |  FROM qt JOIN p USING (token) JOIN dfq USING (token)
           |  JOIN dlen ON dlen.doc_id = p.doc_id CROSS JOIN g),
           |sc AS (SELECT qid, doc_id, CAST(sum(contrib) AS BIGINT) AS score
           |  FROM cand GROUP BY 1, 2),
           |lexr AS (SELECT qid, doc_id,
           |    row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank
           |  FROM sc QUALIFY rank <= 20),
           |qv AS (SELECT vec_id AS qid, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE vec_id % 97 = 0),
           |cv AS (SELECT vec_id AS doc_id, embedding::DOUBLE[] AS v
           |  FROM embeddings WHERE vec_id % 97 <> 0),
           |cs AS (SELECT qid, doc_id,
           |    list_dot_product(qv.v, cv.v) /
           |      (sqrt(list_dot_product(qv.v, qv.v)) * sqrt(list_dot_product(cv.v, cv.v))) AS cos
           |  FROM qv, cv),
           |denr AS (SELECT qid, doc_id,
           |    row_number() OVER (PARTITION BY qid ORDER BY cos DESC, doc_id) AS rank
           |  FROM cs QUALIFY rank <= 20),
           |u AS (SELECT qid, doc_id, 1000000 // (60 + rank) AS c FROM lexr
           |  UNION ALL SELECT qid, doc_id, 1000000 // (60 + rank) FROM denr),
           |f AS (SELECT qid, doc_id, CAST(sum(c) AS BIGINT) AS rrf_score,
           |    count(*) AS n_lists FROM u GROUP BY 1, 2)
           |SELECT qid, CAST(row_number() OVER (PARTITION BY qid
           |    ORDER BY rrf_score DESC, doc_id) AS INT) AS rank,
           |  doc_id, rrf_score, n_lists
           |FROM f QUALIFY rank <= 10""".stripMargin))

  /** Distributed BPE vocabulary TRAINING
    * ([[graft.ops.BpeTrainOps.bpeTrain]]): 24 merge rounds learned from
    * the documents corpus — per round, the max-frequency adjacent token
    * pair (weighted by word frequency, overlap counting, lexicographic
    * tie-break). The oracle verifies the trajectory INDUCTIVELY: the
    * learned table is inlined as tokenization STATE only, and each
    * round i's winning pair + count is recomputed FROM THE DATA given
    * the state after merges 1..i−1 — if the trainer ever picked a
    * different pair than the true argmax, the first divergent round
    * hash-mismatches. State uses the own-spaces rendering (" t1  t2 ",
    * double space between tokens) so one left-to-right `replace` pass
    * per round equals BpeModel's greedy merge exactly — a SHARED
    * single-space delimiter would skip the middle pair of runs like
    * "aaaaa" (the matched trailing space consumes the next pair's
    * leading space).
    */
  private val x31BpeTrain = Q(
    "x31_bpe_train",
    (s, d) => graft.ops.BpeTrainOps.bpeTrainDF(T.documents(s, d), "text", 24),
    Some("""WITH RECURSIVE
           |m(rank, l, r) AS (VALUES
           |  (1,'e','r'), (2,'i','n'), (3,'o','w'), (4,'o','r'), (5,'s','t'),
           |  (6,'m','er'), (7,'a','t'), (8,'l','u'), (9,'a','r'), (10,'p','ar'),
           |  (11,'j','o'), (12,'jo','in'), (13,'a','s'), (14,'as','h'),
           |  (15,'h','ash'), (16,'r','ow'), (17,'at','c'), (18,'atc','h'),
           |  (19,'b','atch'), (20,'a','n'), (21,'c','an'), (22,'s','can'),
           |  (23,'c','o'), (24,'c','u')),
           |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS f FROM
           |         (SELECT unnest(string_split_regex(trim(text), '\s+')) AS w
           |          FROM documents)
           |       WHERE w <> '' GROUP BY w),
           |steps(j, w, s) AS (
           |  SELECT 0, w,
           |    ' ' || array_to_string(string_split(w, ''), '  ') || ' '
           |  FROM wf
           |  UNION ALL
           |  SELECT st.j + 1, st.w,
           |    replace(st.s, ' ' || m.l || '  ' || m.r || ' ',
           |            ' ' || m.l || m.r || ' ')
           |  FROM steps st JOIN m ON m.rank = st.j + 1),
           |pr AS (SELECT st.j + 1 AS round, tk[i] AS l, tk[i+1] AS r,
           |         CAST(sum(f) AS BIGINT) AS cnt
           |       FROM (SELECT j, w, string_split(trim(s), '  ') AS tk
           |             FROM steps WHERE j < 24) st
           |       JOIN wf USING (w), UNNEST(range(1, len(tk))) AS u(i)
           |       GROUP BY 1, 2, 3),
           |best AS (SELECT round, l, r, cnt,
           |           row_number() OVER (PARTITION BY round
           |             ORDER BY cnt DESC, l, r) AS rn
           |         FROM pr)
           |SELECT CAST(round AS BIGINT) AS rank, l, r, cnt
           |FROM best WHERE rn = 1""".stripMargin))

  /** BYTE-level BPE token count + stream digest
    * ([[graft.functions.ByteBpeModel]], GPT-2-style regex
    * pre-tokenization, bytes as the merge alphabet, fixture vocabulary
    * [[graft.functions.ByteBpeVocab]]). The oracle replays the
    * rank-order fixpoint per DISTINCT pre-token (equal to the greedy
    * encoder by the learned-shape theorem — see BpeModel's scaladoc)
    * using '|' own-delimiters ('|' never occurs in the corpus, and
    * pre-tokens CONTAIN spaces, so the x22 space rendering would be
    * ambiguous here); pre-tokens on this single-spaced lowercase corpus
    * are exactly "first word bare, every later word with its leading
    * space", which the oracle derives positionally. Narrow codegen'd
    * map per row; the oracle join is pre-token-vocabulary-sized.
    */
  private val x32ByteBpeCount = Q(
    "x32_bytebpe_count",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.TextOps.byteBpeCount(col("text")).as("n_bytebpe"),
      md5(concat_ws("|", graft.ops.TextOps.byteBpeTokens(col("text"))))
        .as("toks_md5")),
    Some(s"""WITH RECURSIVE
           |m(rank, l, r) AS (VALUES ${graft.functions.ByteBpeVocab.mergesValuesSql}),
           |tok AS (SELECT doc_id, i AS pos,
           |          CASE WHEN i = 1 THEN tk[i] ELSE ' ' || tk[i] END AS w
           |        FROM (SELECT doc_id, string_split(text, ' ') AS tk
           |              FROM documents),
           |             UNNEST(range(1, len(tk) + 1)) AS t(i)),
           |pts AS (SELECT DISTINCT w FROM tok),
           |init AS (SELECT w,
           |           '|' || array_to_string(string_split(w, ''), '||') || '|' AS s
           |         FROM pts),
           |steps(w, rank, s) AS (
           |  SELECT w, 1, s FROM init
           |  UNION ALL
           |  SELECT st.w, st.rank + 1,
           |    replace(st.s, '|' || m.l || '||' || m.r || '|',
           |            '|' || m.l || m.r || '|')
           |  FROM steps st JOIN m ON m.rank = st.rank),
           |wt AS (SELECT w,
           |         CAST(len(string_split(trim(s, '|'), '||')) AS BIGINT) AS n,
           |         array_to_string(string_split(trim(s, '|'), '||'), '|') AS toks
           |       FROM steps WHERE rank = (SELECT max(rank) FROM m) + 1)
           |SELECT doc_id, CAST(sum(wt.n) AS BIGINT) AS n_bytebpe,
           |  md5(string_agg(wt.toks, '|' ORDER BY pos)) AS toks_md5
           |FROM tok JOIN wt USING (w) GROUP BY doc_id""".stripMargin))

  /** In-document n-gram repetition ratio (1 − distinct/total 3-grams) —
    * the boilerplate/template filter signal. Narrow, zero shuffle.
    */
  private val x7Repetition = Q(
    "x7_repetition",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.TextOps.repetitionMillionths(col("text"), 3).as("repetition_e6")),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS toks FROM documents),
           |g AS (SELECT doc_id,
           |        CASE WHEN len(toks) >= 3
           |          THEN [array_to_string(toks[i:i+2], ' ') for i in range(1, len(toks)-1)]
           |          ELSE [] END AS sh
           |      FROM t),
           |c AS (SELECT doc_id, CAST(len(sh) AS BIGINT) AS total,
           |        CAST(len(sh) - len(list_distinct(sh)) AS BIGINT) AS dup
           |      FROM g)
           |SELECT doc_id,
           |  CASE WHEN total > 0
           |    THEN (dup * 2000000 + total) // (total * 2)
           |    ELSE 0 END AS repetition_e6
           |FROM c""".stripMargin))

  /** Benchmark decontamination (GPT-3-style word-shingle overlap):
    * every 97th document stands in as the held-out benchmark set; each
    * remaining corpus document is flagged with its count of DISTINCT
    * 3-gram shingles shared with the benchmark. Candidate generation
    * is an equi-join on the shingle string with both sides distincted
    * first — never corpus × benchmark; the small benchmark shingle set
    * broadcasts under AQE.
    */
  private val x8Decontaminate = Q(
    "x8_decontaminate",
    (s, d) => {
      val docs = T.documents(s, d)
      graft.ops.CorpusOps.contaminationHits(
        corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
        benchmark = docs.where(pmod(col("doc_id"), lit(97)) === 0),
        idCol = "doc_id", textCol = "text", n = 3)
    },
    Some("""WITH bt AS (SELECT string_split_regex(trim(text), '\s+') AS tk
           |            FROM documents WHERE doc_id % 97 = 0),
           |bs AS (SELECT DISTINCT array_to_string(tk[i:i+2], ' ') AS sh
           |       FROM bt, UNNEST(range(1, len(tk) - 1)) AS t(i) WHERE len(tk) >= 3),
           |ct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           |       FROM documents WHERE doc_id % 97 <> 0),
           |cs AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
           |       FROM ct, UNNEST(range(1, len(tk) - 1)) AS t(i) WHERE len(tk) >= 3),
           |h AS (SELECT doc_id, count(*) AS n_hits FROM cs JOIN bs USING (sh) GROUP BY doc_id)
           |SELECT d.doc_id,
           |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           |  coalesce(h.n_hits, 0) > 0 AS contaminated
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
           |LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin))

  /** Bloom-pre-filtered decontamination
    * ([[graft.ops.CorpusOps.contaminationHitsBloom]]): the 100 TB form
    * of x8 — the benchmark's shingle set collapses to ONE fixed-size
    * Bloom blob (partial-merged `BloomFilterAggregate`) shipped as a
    * literal into a codegen'd `might_contain` pre-filter, so at scale
    * the corpus shingle stream drops to ~the true-hit rate BEFORE the
    * join shuffle. Bloom filters have no false negatives and survivors
    * are exact-verified by the same equi-join, so the output is
    * IDENTICAL to x8 — the oracle IS x8's oracle, making any slip in
    * the sketch path (hash mismatch between agg and probe, blob
    * truncation, fpp arithmetic) a hash mismatch here.
    */
  private val x21BloomDecontaminate = Q(
    "x21_bloom_decontaminate",
    (s, d) => {
      val docs = T.documents(s, d)
      graft.ops.CorpusOps.contaminationHitsBloom(
        corpus = docs.where(pmod(col("doc_id"), lit(97)) =!= 0),
        benchmark = docs.where(pmod(col("doc_id"), lit(97)) === 0),
        idCol = "doc_id", textCol = "text", n = 3)
    },
    Some("""WITH bt AS (SELECT string_split_regex(trim(text), '\s+') AS tk
           |            FROM documents WHERE doc_id % 97 = 0),
           |bs AS (SELECT DISTINCT array_to_string(tk[i:i+2], ' ') AS sh
           |       FROM bt, UNNEST(range(1, len(tk) - 1)) AS t(i) WHERE len(tk) >= 3),
           |ct AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS tk
           |       FROM documents WHERE doc_id % 97 <> 0),
           |cs AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS sh
           |       FROM ct, UNNEST(range(1, len(tk) - 1)) AS t(i) WHERE len(tk) >= 3),
           |h AS (SELECT doc_id, count(*) AS n_hits FROM cs JOIN bs USING (sh) GROUP BY doc_id)
           |SELECT d.doc_id,
           |  CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
           |  coalesce(h.n_hits, 0) > 0 AS contaminated
           |FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) d
           |LEFT JOIN h ON d.doc_id = h.doc_id""".stripMargin))

  /** Stupid-Backoff bigram LM fluency score
    * ([[graft.ops.CorpusOps.lmBackoffScore]], trained on the English
    * slice, scored over every document): integer-millionths probability
    * mass per adjacent pair — seen bigrams score `cb·10⁶ div c1`,
    * unseen back off to `0.4·10⁶·c(w2) div N`. The oracle retrains the
    * model from scratch (unigram/bigram counts over the same slice) and
    * replays both the conditional and backoff floor-divisions, so the
    * whole train-then-score path is hash-pinned — not just the
    * mechanism. Cross-lingual docs score near zero, in-distribution
    * English scores high: the CCNet-style quality gate, exactly
    * reproducible.
    */
  private val x25LmScore = Q(
    "x25_lm_score",
    (s, d) => graft.ops.CorpusOps.lmBackoffScore(
      T.documents(s, d), "doc_id", "text", trainFilter = col("lang") === "en"),
    Some("""WITH tr AS (SELECT string_split_regex(trim(text), '\s+') AS a
           |            FROM documents WHERE lang = 'en'),
           |tu AS (SELECT unnest(a) AS token FROM tr),
           |uni AS (SELECT token, count(*) AS c1 FROM tu GROUP BY 1),
           |tot AS (SELECT count(*) AS n FROM tu),
           |tb AS (SELECT a[i] AS w1, a[i+1] AS w2
           |       FROM tr, unnest(range(1, len(a))) AS u(i)),
           |big AS (SELECT w1, w2, count(*) AS cb FROM tb GROUP BY 1, 2),
           |cond AS (SELECT w1 || ' ' || w2 AS bigram, cb * 1000000 // c1 AS sc_cond
           |         FROM big JOIN uni ON uni.token = big.w1),
           |back AS (SELECT token AS w2, 400000 * c1 // (SELECT n FROM tot) AS sc_back
           |         FROM uni),
           |da AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS a
           |       FROM documents),
           |pr AS (SELECT doc_id, a[i] || ' ' || a[i+1] AS bigram, a[i+1] AS w2
           |       FROM da, unnest(range(1, len(a))) AS u(i)),
           |sc AS (SELECT doc_id, count(*) AS nb,
           |         CAST(sum(coalesce(sc_cond, sc_back, 0)) AS BIGINT) AS s
           |       FROM pr LEFT JOIN cond USING (bigram) LEFT JOIN back USING (w2)
           |       GROUP BY 1)
           |SELECT d.doc_id, coalesce(nb, 0) AS n_bigrams,
           |  coalesce(s, 0) AS lm_score,
           |  CASE WHEN coalesce(nb, 0) > 0 THEN s // nb ELSE 0 END AS lm_avg
           |FROM documents d LEFT JOIN sc USING (doc_id)""".stripMargin))

  /** DSIR-style hashed-feature importance score
    * ([[graft.ops.CorpusOps.hashedImportanceScore]], target = the
    * English slice, 256 md5-prefix buckets): per-document sum of
    * add-one-smoothed target/raw bucket ratios in integer millionths —
    * the "select raw data that resembles the target distribution"
    * classifier. The oracle rebuilds both distributions, the smoothed
    * HUGEINT ratio table, and the per-doc rollup; the md5-prefix bucket
    * key is the engine-portability trick (a string both sides hash
    * identically — no hex-to-int conversion involved).
    */
  private val x26DsirScore = Q(
    "x26_dsir_score",
    (s, d) => graft.ops.CorpusOps.hashedImportanceScore(
      T.documents(s, d), "doc_id", "text", targetFilter = col("lang") === "en"),
    Some("""WITH tk AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents),
           |bk AS (SELECT doc_id, substr(md5(token), 1, 2) AS b FROM tk),
           |tt AS (SELECT substr(md5(token), 1, 2) AS b
           |       FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
           |             FROM documents WHERE lang = 'en')),
           |cr AS (SELECT b, count(*) AS crn FROM bk GROUP BY 1),
           |ct AS (SELECT b, count(*) AS ctn FROM tt GROUP BY 1),
           |tot AS (SELECT (SELECT count(*) FROM tt) AS nt,
           |               (SELECT count(*) FROM bk) AS nr),
           |w AS (SELECT cr.b,
           |        CAST(CAST(1000000 AS HUGEINT) * (coalesce(ctn, 0) + 1) * (nr + 256)
           |          // ((crn + 1) * (nt + 256)) AS BIGINT) AS r
           |      FROM cr LEFT JOIN ct USING (b), tot)
           |SELECT doc_id, count(*) AS n_tokens, CAST(sum(r) AS BIGINT) AS dsir_score
           |FROM bk JOIN w USING (b) GROUP BY 1""".stripMargin))

  /** Overlapping sliding-window chunking
    * ([[graft.ops.CorpusOps.slidingChunks]], window 32 / stride 24):
    * the RAG-indexing chunker — every document becomes overlapping
    * token windows, geometry AND content pinned (the chunk_md5 is the
    * md5 of the exact token slice, which the oracle re-slices with
    * DuckDB's inclusive list indexing). A narrow zero-shuffle explode;
    * x19's disjoint GPT-style packing is the other half of the family.
    */
  private val x27SlidingChunks = Q(
    "x27_sliding_chunks",
    (s, d) => graft.ops.CorpusOps.slidingChunks(
      T.documents(s, d), "doc_id", "text", window = 32, stride = 24),
    Some("""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS a
           |            FROM documents),
           |n AS (SELECT doc_id, a, CAST(len(a) AS BIGINT) AS n,
           |        CASE WHEN len(a) <= 32 THEN 1
           |             ELSE 1 + (len(a) - 32 + 23) // 24 END AS nc
           |      FROM t)
           |SELECT doc_id, i AS chunk_idx, i * 24 AS tok_start,
           |  least(32, n - i * 24) AS chunk_len,
           |  md5(array_to_string(a[i * 24 + 1 : i * 24 + least(32, n - i * 24)],
           |    ' ')) AS chunk_md5
           |FROM n, unnest(range(0, nc)) AS u(i)""".stripMargin))

  /** PMI collocation mining ([[graft.ops.CorpusOps.pmiCollocations]],
    * top-30, min bigram count 5): integer-exact 10⁶·C(w1w2)·N div
    * (C(w1)·C(w2)) — the phrase/vocabulary-candidate sweep. The oracle
    * recomputes both count tables, the HUGEINT ratio, and the ordered
    * top-k.
    */
  private val x28PmiCollocations = Q(
    "x28_pmi_collocations",
    (s, d) => graft.ops.CorpusOps.pmiCollocations(
      T.documents(s, d), "text", k = 30, minCount = 5L),
    Some("""WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS a
           |            FROM documents),
           |u AS (SELECT unnest(a) AS w FROM t),
           |uni AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
           |tot AS (SELECT count(*) AS n FROM u),
           |b AS (SELECT a[i] AS w1, a[i+1] AS w2
           |      FROM t, unnest(range(1, len(a))) AS u(i)),
           |big AS (SELECT w1, w2, count(*) AS cb FROM b GROUP BY 1, 2
           |        HAVING count(*) >= 5),
           |s AS (SELECT w1, w2, cb,
           |        CAST(CAST(1000000 AS HUGEINT) * cb * (SELECT n FROM tot)
           |          // (CAST(u1.c AS HUGEINT) * u2.c) AS BIGINT) AS pmi_score
           |      FROM big JOIN uni u1 ON u1.w = big.w1
           |                JOIN uni u2 ON u2.w = big.w2)
           |SELECT w1, w2, cb, pmi_score FROM s
           |ORDER BY pmi_score DESC, w1, w2 LIMIT 30""".stripMargin))

  /** Token-budget sequence packing: contiguous greedy fill into
    * 512-token packs, per shard (`doc_id % 8`) — the window prefix-sum
    * runs within a shard, never globally, so the sort parallelizes
    * like the distributed packing step it models.
    */
  private val x9PackSequences = Q(
    "x9_pack_sequences",
    (s, d) => graft.ops.CorpusOps.packSequences(
      T.documents(s, d), "doc_id", "text", budget = 512, shards = 8),
    Some("""WITH t AS (SELECT doc_id, doc_id % 8 AS shard,
           |  CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tok
           |  FROM documents),
           |c AS (SELECT doc_id, shard, n_tok,
           |        coalesce(sum(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
           |      FROM t)
           |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tok,
           |  CAST(bef // 512 AS BIGINT) AS pack_id
           |FROM c""".stripMargin))

  /** REAL merge-driven BPE encode ([[graft.functions.BpeCountText]] /
    * [[graft.functions.BpeTokensText]]): per document, the token count
    * AND an md5 over the space-joined token stream — the md5 pins exact
    * token identity and order, not just the count. The oracle replays
    * the IDENTICAL 40-entry learned merge table
    * ([[graft.functions.BpeVocab]]) as a recursive CTE: per DISTINCT
    * word, rank-order fixpoint replacement over separator-joined
    * characters — provably equal to the engine's textbook greedy loop
    * for learned-shape tables (see BpeModel's scaladoc; BpeTextSpec
    * holds the two algorithms equal on fixtures). Narrow codegen'd
    * map on the Spark side; the oracle's recursion is vocabulary-sized
    * (31 distinct words), not corpus-sized.
    */
  private val x22BpeEncode = Q(
    "x22_bpe_encode",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      graft.ops.TextOps.bpeCount(col("text")).as("n_bpe"),
      md5(concat_ws(" ", graft.ops.TextOps.bpeTokens(col("text")))).as("toks_md5")),
    Some(s"""WITH RECURSIVE
           |merges(rank, l, r) AS (VALUES ${graft.functions.BpeVocab.mergesValuesSql}),
           |words AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w
           |          FROM documents),
           |init AS (SELECT w, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
           |         FROM words),
           |steps(w, rank, s) AS (
           |  SELECT w, 1, s FROM init
           |  UNION ALL
           |  SELECT w,
           |    CASE WHEN replaced <> s THEN rank ELSE rank + 1 END,
           |    CASE WHEN replaced <> s THEN replaced ELSE s END
           |  FROM (SELECT st.w, st.rank, st.s,
           |          replace(st.s, ' ' || m.l || ' ' || m.r || ' ',
           |                  ' ' || m.l || m.r || ' ') AS replaced
           |        FROM steps st JOIN merges m ON m.rank = st.rank)),
           |wt AS (SELECT w, trim(s) AS toks,
           |         CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n
           |       FROM steps WHERE rank = (SELECT max(rank) FROM merges) + 1),
           |tok AS (SELECT doc_id, i AS pos, tk[i] AS w
           |        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
           |              FROM documents),
           |             UNNEST(range(1, len(tk) + 1)) AS t(i))
           |SELECT doc_id, CAST(sum(wt.n) AS BIGINT) AS n_bpe,
           |  md5(string_agg(wt.toks, ' ' ORDER BY pos)) AS toks_md5
           |FROM tok JOIN wt USING (w) GROUP BY doc_id""".stripMargin))

  /** Corpus BPE token histogram: explode the real tokenizer's token
    * stream and count — the "what does the corpus cost in tokens"
    * rollup, and a different consumer shape for the BPE path than
    * x22's per-document map (this one shuffles on the token after a
    * narrow codegen'd encode; map-side partial aggregation collapses
    * the stream to the subword vocabulary before the exchange). Oracle
    * reuses the merge-replay CTE and aggregates over the per-word
    * token lists.
    */
  private val x23BpeTokenFreq = Q(
    "x23_bpe_token_freq",
    (s, d) => T.documents(s, d)
      .select(explode(graft.ops.TextOps.bpeTokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("token")).limit(50),
    Some(s"""WITH RECURSIVE
           |merges(rank, l, r) AS (VALUES ${graft.functions.BpeVocab.mergesValuesSql}),
           |words AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w
           |          FROM documents),
           |init AS (SELECT w, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
           |         FROM words),
           |steps(w, rank, s) AS (
           |  SELECT w, 1, s FROM init
           |  UNION ALL
           |  SELECT w,
           |    CASE WHEN replaced <> s THEN rank ELSE rank + 1 END,
           |    CASE WHEN replaced <> s THEN replaced ELSE s END
           |  FROM (SELECT st.w, st.rank, st.s,
           |          replace(st.s, ' ' || m.l || ' ' || m.r || ' ',
           |                  ' ' || m.l || m.r || ' ') AS replaced
           |        FROM steps st JOIN merges m ON m.rank = st.rank)),
           |wt AS (SELECT w, string_split(trim(s), ' ') AS toks
           |       FROM steps WHERE rank = (SELECT max(rank) FROM merges) + 1),
           |tok AS (SELECT doc_id, tk[i] AS w
           |        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
           |              FROM documents),
           |             UNNEST(range(1, len(tk) + 1)) AS t(i)),
           |bp AS (SELECT unnest(wt.toks) AS token FROM tok JOIN wt USING (w))
           |SELECT token, count(*) AS n FROM bp
           |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin))

  /** Tokenizer compression ratio
    * ([[graft.ops.TextOps.bpeCompressionMillionths]]): chars per BPE
    * token in exact half-up millionths — the gibberish gate an LLM
    * curation pipeline runs right after language-ID (junk text does
    * not compress under a learned vocabulary). The oracle reuses the
    * merge-replay CTE for per-doc counts and replays the half-up
    * integer division: (2·chars·10⁶ + n) // (2n).
    */
  private val x24BpeCompression = Q(
    "x24_bpe_compression",
    (s, d) => T.documents(s, d).select(
      col("doc_id"),
      length(col("text")).cast("long").as("len_chars"),
      graft.ops.TextOps.bpeCount(col("text")).as("n_bpe"),
      graft.ops.TextOps.bpeCompressionMillionths(col("text")).as("ratio_e6")),
    Some(s"""WITH RECURSIVE
           |merges(rank, l, r) AS (VALUES ${graft.functions.BpeVocab.mergesValuesSql}),
           |words AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w
           |          FROM documents),
           |init AS (SELECT w, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
           |         FROM words),
           |steps(w, rank, s) AS (
           |  SELECT w, 1, s FROM init
           |  UNION ALL
           |  SELECT w,
           |    CASE WHEN replaced <> s THEN rank ELSE rank + 1 END,
           |    CASE WHEN replaced <> s THEN replaced ELSE s END
           |  FROM (SELECT st.w, st.rank, st.s,
           |          replace(st.s, ' ' || m.l || ' ' || m.r || ' ',
           |                  ' ' || m.l || m.r || ' ') AS replaced
           |        FROM steps st JOIN merges m ON m.rank = st.rank)),
           |wt AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n
           |       FROM steps WHERE rank = (SELECT max(rank) FROM merges) + 1),
           |tok AS (SELECT doc_id, tk[i] AS w
           |        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
           |              FROM documents),
           |             UNNEST(range(1, len(tk) + 1)) AS t(i)),
           |n AS (SELECT doc_id, CAST(sum(wt.n) AS BIGINT) AS n_bpe
           |      FROM tok JOIN wt USING (w) GROUP BY doc_id)
           |SELECT d.doc_id, CAST(length(d.text) AS BIGINT) AS len_chars,
           |  n.n_bpe,
           |  CAST((2 * length(d.text) * 1000000 + n.n_bpe) // (2 * n.n_bpe) AS BIGINT) AS ratio_e6
           |FROM documents d JOIN n USING (doc_id)""".stripMargin))

  /** [[x9PackSequences]] with REAL token budgets: the packing unit is
    * the BPE token count ([[graft.ops.TextOps.bpeCount]]) instead of
    * the whitespace approximation — what a training pipeline actually
    * packs by. Same one-shuffle per-shard prefix-sum shape; the oracle
    * reuses the x22 merge-replay CTE for per-doc counts and the x9
    * window for pack assignment.
    */
  private val x9bPackBpe = Q(
    "x9b_pack_bpe",
    (s, d) => graft.ops.CorpusOps.packSequences(
      T.documents(s, d), "doc_id", "text", budget = 256, shards = 8,
      tokenCount = Some(graft.ops.TextOps.bpeCount(col("text")))),
    Some(s"""WITH RECURSIVE
           |merges(rank, l, r) AS (VALUES ${graft.functions.BpeVocab.mergesValuesSql}),
           |words AS (SELECT DISTINCT unnest(string_split_regex(trim(text), '\\s+')) AS w
           |          FROM documents),
           |init AS (SELECT w, ' ' || array_to_string(string_split(w, ''), ' ') || ' ' AS s
           |         FROM words),
           |steps(w, rank, s) AS (
           |  SELECT w, 1, s FROM init
           |  UNION ALL
           |  SELECT w,
           |    CASE WHEN replaced <> s THEN rank ELSE rank + 1 END,
           |    CASE WHEN replaced <> s THEN replaced ELSE s END
           |  FROM (SELECT st.w, st.rank, st.s,
           |          replace(st.s, ' ' || m.l || ' ' || m.r || ' ',
           |                  ' ' || m.l || m.r || ' ') AS replaced
           |        FROM steps st JOIN merges m ON m.rank = st.rank)),
           |wt AS (SELECT w, CAST(len(string_split(trim(s), ' ')) AS BIGINT) AS n
           |       FROM steps WHERE rank = (SELECT max(rank) FROM merges) + 1),
           |tok AS (SELECT doc_id, tk[i] AS w
           |        FROM (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
           |              FROM documents),
           |             UNNEST(range(1, len(tk) + 1)) AS t(i)),
           |n AS (SELECT doc_id, CAST(sum(wt.n) AS BIGINT) AS n_tok
           |      FROM tok JOIN wt USING (w) GROUP BY doc_id),
           |c AS (SELECT doc_id, doc_id % 8 AS shard, n_tok,
           |        coalesce(sum(n_tok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
           |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS bef
           |      FROM n)
           |SELECT doc_id, CAST(shard AS BIGINT) AS shard, n_tok,
           |  CAST(bef // 256 AS BIGINT) AS pack_id
           |FROM c""".stripMargin))

  /** PII redaction: every document is deterministically augmented with
    * a synthetic email / phone / IPv4 (the raw corpus has none — the
    * augmentation makes the replacement path actually fire), then
    * redacted with RE2-compatible patterns in a fixed order. The
    * oracle re-runs the identical augment+redact in DuckDB and
    * compares md5 of the redacted body plus per-kind match counts.
    */
  private val x10Redact = Q(
    "x10_redact",
    (s, d) => {
      val aug = concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@mail.example.com or 555-"),
        lpad(pmod(col("doc_id"), lit(10000)).cast("string"), 4, "0"),
        lit(" at 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
        lit("."), pmod(col("doc_id") * 7, lit(256)).cast("string"))
      T.documents(s, d).select(
        col("doc_id"),
        md5(graft.ops.CorpusOps.redactPii(aug)).as("red_md5"),
        regexp_count(aug, lit(graft.ops.CorpusOps.EmailPattern)).cast("long").as("n_email"),
        regexp_count(aug, lit(graft.ops.CorpusOps.PhonePattern)).cast("long").as("n_phone"),
        regexp_count(aug, lit(graft.ops.CorpusOps.Ipv4Pattern)).cast("long").as("n_ip"))
    },
    Some("""WITH a AS (SELECT doc_id,
           |  text || ' contact user' || doc_id || '@mail.example.com or 555-' ||
           |  lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
           |  ' at 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.' ||
           |  CAST((doc_id * 7) % 256 AS VARCHAR) AS aug
           |  FROM documents)
           |SELECT doc_id,
           |  md5(regexp_replace(regexp_replace(regexp_replace(aug,
           |    '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]', '<EMAIL>', 'g'),
           |    '555-[0-9]{4}', '<PHONE>', 'g'),
           |    '([0-9]{1,3}\.){3}[0-9]{1,3}', '<IP>', 'g')) AS red_md5,
           |  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._]+@[A-Za-z0-9.]+[A-Za-z]')) AS BIGINT) AS n_email,
           |  CAST(len(regexp_extract_all(aug, '555-[0-9]{4}')) AS BIGINT) AS n_phone,
           |  CAST(len(regexp_extract_all(aug, '([0-9]{1,3}\.){3}[0-9]{1,3}')) AS BIGINT) AS n_ip
           |FROM a""".stripMargin))

  /** Stratified mixture resampling
    * ([[graft.ops.CorpusOps.stratifiedSample]]): keep English at 50%,
    * Chinese at 75%, French whole, everything else at 20% — the
    * domain/language reweighting step of corpus curation, as a
    * deterministic keyed-hash filter (stable across engines and
    * partitionings; literal CASE thresholds, narrow, no shuffle). The
    * oracle replays the identical md5-prefix rule per stratum.
    */
  private val x11StratifiedSample = Q(
    "x11_stratified_sample",
    (s, d) => graft.ops.CorpusOps.stratifiedSample(
      T.documents(s, d), "lang", "doc_id",
      Map("en" -> 0.5, "zh" -> 0.75, "fr" -> 1.0),
      defaultFraction = 0.2),
    Some("""SELECT * FROM documents
           |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) <
           |  CASE lang WHEN 'en' THEN '8000' WHEN 'zh' THEN 'c000'
           |            WHEN 'fr' THEN 'g' ELSE '3333' END""".stripMargin))

  /** Temperature-scaled mixture sampling
    * ([[graft.ops.CorpusOps.temperatureMixture]], α = 0.5, 30 % kept):
    * per-source rates ∝ n^(α−1) with the same hash-threshold selection
    * rule as x11. The oracle recomputes the rates from scratch — counts,
    * the domain-ordered √n sum, the capped rate, the 4-hex threshold —
    * so both the α-rebalancing arithmetic AND the sampled row set are
    * pinned, not just the mechanism.
    */
  private val x20TemperatureMixture = Q(
    "x20_temperature_mixture",
    (s, d) => graft.ops.CorpusOps.temperatureMixture(
      T.documents(s, d), "source", "doc_id", targetFraction = 0.3),
    Some("""WITH c AS (SELECT source, count(*) AS n FROM documents GROUP BY 1),
           |s AS (SELECT sum(sqrt(n) ORDER BY source) AS ps, sum(n) AS total FROM c),
           |r AS (SELECT source, least(1.0, ((0.3 * total) / ps) / sqrt(n)) AS rate
           |      FROM c, s),
           |t AS (SELECT source, CAST(round(rate * 65536) AS BIGINT) AS ti FROM r),
           |th AS (SELECT source,
           |         CASE WHEN ti >= 65536 THEN 'g' ELSE printf('%04x', ti) END AS thr
           |       FROM t)
           |SELECT d.* FROM documents d JOIN th USING (source)
           |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) < thr""".stripMargin))

  /** Corpus document-frequency stats per document
    * ([[graft.ops.CorpusOps.rareTokenStats]]): n_tokens, sum of token
    * document-frequencies, min df — the integer-exact core of
    * frequency-based quality filtering. DuckDB recomputes the df table
    * and the per-doc rollup from scratch.
    */
  private val x12RareTokens = Q(
    "x12_rare_token_score",
    (s, d) => graft.ops.CorpusOps.rareTokenStats(
      T.documents(s, d), "doc_id", "text"),
    Some("""WITH tk AS (SELECT doc_id,
           |    unnest(string_split_regex(trim(text), '\s+')) AS token
           |  FROM documents),
           |df AS (SELECT token, count(DISTINCT doc_id) AS df
           |       FROM tk GROUP BY token)
           |SELECT doc_id, count(*) AS n_tokens,
           |  CAST(sum(df) AS BIGINT) AS sum_df,
           |  min(df) AS min_df
           |FROM tk JOIN df USING (token) GROUP BY doc_id""".stripMargin))

  /** Heavy hitters with a Count-Min-Sketch cross-check
    * ([[graft.ops.CorpusOps.heavyHitters]]): exact top-20 tokens, each
    * gated in-query by the sketch guarantees — est ≥ exact hard, the
    * probabilistic eps·N upper bound within a violator budget.
    * The oracle checks the exact side; the gate checks the sketch.
    */
  private val x13HeavyHitters = Q(
    "x13_heavy_hitters",
    (s, d) => graft.ops.CorpusOps.heavyHitters(
      T.documents(s, d), "text", k = 20),
    Some("""SELECT token, count(*) AS n
           |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
           |GROUP BY token ORDER BY n DESC, token LIMIT 20""".stripMargin))

  /** Per-domain document cap ([[graft.ops.CorpusOps.domainCap]]): at
    * most 12 documents per source, selected deterministically by
    * (md5(doc_id), doc_id). The implementation is the skew-proof
    * two-phase salted top-k (each sort bounded by domain/salts, then by
    * salts·k); the oracle is the single-window `row_number ≤ k` form
    * the two-phase shape is provably equal to — so a hash-match here IS
    * the equivalence proof at data scale, and the spec pins it again on
    * a one-hot-domain fixture.
    */
  private val x14DomainCap = Q(
    "x14_domain_cap",
    (s, d) => graft.ops.CorpusOps.domainCap(
      T.documents(s, d), "source", "doc_id", k = 12),
    Some("""SELECT * FROM documents
           |QUALIFY row_number() OVER (PARTITION BY source
           |  ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) <= 12""".stripMargin))

  /** Corpus bigram statistics (the n-gram language-model counting pass;
    * top-50 by count): bigrams are built NARROWLY inside the token
    * array — `zip_with(a[0..n-2], a[1..n-1], concat)` — so the only
    * shuffle is the final count on the bigram key (map-side partials),
    * exactly the shape of the unigram sweep `x5` one order up. DuckDB
    * rebuilds the pairs positionally from the same split.
    */
  private val x15BigramCounts = Q(
    "x15_bigram_counts",
    (s, d) => {
      // inline twin of TextOps.adjacentPairs (concat form, kept next to
      // its oracle); the LM/PMI family shares the struct-form helper
      val a = graft.ops.TextOps.tokens(col("text"))
      val n1 = greatest(size(a) - 1, lit(0))
      val pairs = zip_with(
        slice(a, lit(1), n1),
        slice(a, lit(2), n1),
        (x, y) => concat_ws(" ", x, y))
      T.documents(s, d)
        .select(explode(pairs).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(50)
    },
    Some("""WITH t AS (SELECT string_split_regex(trim(text), '\s+') AS a
           |            FROM documents),
           |b AS (SELECT a[i] || ' ' || a[i+1] AS bigram
           |      FROM t, unnest(range(1, len(a))) AS u(i))
           |SELECT bigram, count(*) AS n FROM b
           |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 50""".stripMargin))

  /** Per-document most-distinguishing term
    * ([[graft.ops.CorpusOps.topDistinctTerm]]): argmax of tf/df as
    * integer arithmetic — score = tf·10⁶ floor-div df, ties to the
    * lexicographically smallest token. The Spark side's argmax is a
    * partially-aggregable min(struct); the oracle's is a row_number
    * window — same result, and the integral scoring makes the whole
    * row hash-exact with no float idf anywhere.
    */
  private val x16TopDistinctTerm = Q(
    "x16_top_distinct_term",
    (s, d) => graft.ops.CorpusOps.topDistinctTerm(
      T.documents(s, d), "doc_id", "text"),
    Some("""WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents),
           |tf AS (SELECT doc_id, token, count(*) AS tf FROM t GROUP BY 1, 2),
           |df AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
           |sc AS (SELECT doc_id, token, tf.tf, df.df, tf.tf * 1000000 // df.df AS score
           |       FROM tf JOIN df USING (token)),
           |r AS (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, token) AS rn FROM sc)
           |SELECT doc_id, token AS top_term, tf, df, score FROM r WHERE rn = 1""".stripMargin))

  /** Deterministic epoch shuffle ([[graft.ops.CorpusOps.epochShuffle]]):
    * every document's global position in the seed-42 permutation. The
    * order key md5(seed:id) is engine-portable, so DuckDB's row_number
    * over the same key reproduces the position bit-for-bit; the Spark
    * side computes it with a RANGE-partitioned sort + zipWithIndex's
    * per-partition offsets, never a single-task global window.
    */
  private val x17EpochShuffle = Q(
    "x17_epoch_shuffle",
    (s, d) => graft.ops.CorpusOps.epochShuffle(
      T.documents(s, d), "doc_id", seed = 42L),
    Some("""SELECT doc_id,
           |  row_number() OVER (ORDER BY md5('42:' || doc_id), doc_id) AS pos
           |FROM documents""".stripMargin))

  /** Length-bucketed batch assignment
    * ([[graft.ops.CorpusOps.lengthBucketBatches]]): documents routed to
    * explicit token-count buckets, fixed-size batches numbered within
    * each bucket (ordered by length then id, so co-batched lengths are
    * adjacent — the padding-efficiency point of the operator).
    */
  private val x18LengthBuckets = Q(
    "x18_length_buckets",
    (s, d) => graft.ops.CorpusOps.lengthBucketBatches(
      T.documents(s, d), "doc_id", "text",
      bounds = Seq(20, 40, 80), batchSize = 16),
    Some("""WITH t AS (SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS INT) AS n_tokens
           |  FROM documents),
           |b AS (SELECT doc_id, n_tokens,
           |    CASE WHEN n_tokens >= 80 THEN 3
           |         WHEN n_tokens >= 40 THEN 2
           |         WHEN n_tokens >= 20 THEN 1 ELSE 0 END AS bucket
           |  FROM t)
           |SELECT doc_id, n_tokens, bucket,
           |  CAST((row_number() OVER (PARTITION BY bucket
           |        ORDER BY n_tokens, doc_id) - 1) // 16 AS BIGINT) AS batch_idx
           |FROM b""".stripMargin))

  /** Fixed-context-window chunking over the shuffled token stream
    * ([[graft.ops.CorpusOps.chunkAssignments]]): each document's global
    * token offset in seed-42 epoch order and the first/last 512-token
    * training chunks it lands in. The offset is a DISTRIBUTED prefix
    * sum (range-partitioned sort + per-partition totals + narrow
    * running sum); the oracle computes the same thing with the
    * single-node `sum() OVER (ORDER BY ...)` window this shape exists
    * to avoid at 100 TB.
    */
  private val x19TokenChunks = Q(
    "x19_token_chunks",
    (s, d) => graft.ops.CorpusOps.chunkAssignments(
      T.documents(s, d), "doc_id", "text", seed = 42L, chunkTokens = 512),
    Some("""WITH t AS (SELECT doc_id,
           |    CAST(len(string_split_regex(trim(text), '\s+')) AS BIGINT) AS n_tokens,
           |    md5('42:' || doc_id) AS h
           |  FROM documents),
           |o AS (SELECT doc_id, n_tokens,
           |    CAST(coalesce(sum(n_tokens) OVER (ORDER BY h, doc_id
           |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS tok_start
           |  FROM t)
           |SELECT doc_id, n_tokens, tok_start,
           |  CAST(tok_start // 512 AS BIGINT) AS first_chunk,
           |  CAST((tok_start + n_tokens - 1) // 512 AS BIGINT) AS last_chunk
           |FROM o""".stripMargin))

  /** Corpus token histogram: explode tokens → count — the vocabulary/
    * token-counting sweep of a training-data pipeline (one shuffle on
    * the token, map-side partial counts). Top-50 by (count desc, token)
    * keeps the result deterministic.
    */
  private val x5TokenFreq = Q(
    "x5_token_freq",
    (s, d) => T.documents(s, d)
      .select(explode(graft.ops.TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token"))
      .limit(50),
    Some("""SELECT token, count(*) AS n
           |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token FROM documents)
           |GROUP BY token ORDER BY n DESC, token LIMIT 50""".stripMargin))

  /** REAL video frame sampling: video assets carry actual uncompressed
    * 24-bpp RIFF/AVI containers ([[graft.ops.MediaCodecs.syntheticAvi]],
    * 2–10 frames at 200 ms/frame, pixels analytic in (doc_id, frame))
    * and `sampleFrames(decodeVideo = true)` selects, for each 300 ms
    * sample tick, the container frame covering it
    * (`min(nF−1, ts/200)`) and emits its DECODED top-down RGB pixel
    * stream out of [[graft.ops.MediaCodecs.AviCodec]] — no byte-window
    * stub anywhere in the path. Content is pinned by position-weighted
    * byte sums (wsum pins RGB interleave order AND the bottom-up→
    * top-down row flip AND which frame was selected; plain sums are
    * order-invariant), which the oracle recomputes from the analytic
    * per-frame pixel formulas. Narrow flatMap + map, no shuffle: frames
    * fan out inside their asset's partition.
    */
  private val m3FrameSample = Q(
    "m3_frame_sample",
    (s, d) => {
      import s.implicits._
      // pre-filter the INPUT: the typed map in mediaFromDocumentsReal
      // encodes a container per row, and Catalyst cannot push a filter
      // through it — filtering afterwards would build-and-discard
      // WAV/BMP payloads for 2/3 of the corpus
      val media = graft.ops.MultimodalOps
        .mediaFromDocumentsReal(
          T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 2))
        .filter(col("media_type") === "video").toDF()
      graft.ops.MultimodalOps.sampleFrames(media, everyMs = 300L, decodeVideo = true)
        .map { fr =>
          var sum = 0L; var wsum = 0L
          var i = 0
          while (i < fr.frame.length) {
            val b = (fr.frame(i) & 0xff).toLong
            sum += b; wsum += i.toLong * b
            i += 1
          }
          (fr.asset_id, fr.frame_idx, fr.ts_ms, fr.frame.length.toLong, sum, wsum)
        }.toDF("asset_id", "frame_idx", "ts_ms", "frame_len", "frame_sum", "frame_wsum")
    },
    Some("""WITH a AS (SELECT doc_id, 4 + doc_id % 11 AS w, 3 + doc_id % 5 AS h,
           |                  2 + doc_id % 9 AS nf
           |           FROM documents WHERE doc_id % 3 = 2),
           |s AS (SELECT doc_id, w, h, nf,
           |        unnest(range(0, nf * 200, 300)) AS ts_ms
           |      FROM a),
           |fs AS (SELECT doc_id, w, h, ts_ms,
           |         least(nf - 1, ts_ms // 200) AS f
           |       FROM s),
           |p AS (SELECT doc_id, w, h, ts_ms, f, unnest(range(0, w * h)) AS idx FROM fs),
           |v AS (SELECT doc_id, ts_ms, f, idx,
           |        (doc_id + 7 * (idx % w) + 13 * (idx // w) + 17 * f) % 256 AS r,
           |        (3 * doc_id + 5 * (idx % w) + (idx // w) + 29 * f) % 256 AS g,
           |        (11 * doc_id + (idx % w) + 2 * (idx // w) + 23 * f) % 256 AS b
           |      FROM p)
           |SELECT doc_id AS asset_id, CAST(ts_ms // 300 AS INT) AS frame_idx,
           |  CAST(ts_ms AS BIGINT) AS ts_ms,
           |  CAST(3 * count(*) AS BIGINT) AS frame_len,
           |  CAST(sum(r + g + b) AS BIGINT) AS frame_sum,
           |  CAST(sum(3 * idx * r + (3 * idx + 1) * g + (3 * idx + 2) * b) AS BIGINT) AS frame_wsum
           |FROM v GROUP BY doc_id, ts_ms""".stripMargin))

  /** REAL image frame extraction: image assets carry actual 24-bpp BMP
    * containers and `sampleFrames(decodeImages = true)` emits each
    * image's single frame as its DECODED top-down RGB pixel stream —
    * the frame bytes come out of [[graft.ops.MediaCodecs.BmpCodec]],
    * not the container. Content is pinned by position-weighted byte
    * sums over the emitted frame (wsum pins RGB interleave order AND
    * the bottom-up→top-down row flip; plain sums are order-invariant),
    * which the oracle recomputes from the analytic pixel formulas.
    * Narrow flatMap + map, no shuffle.
    */
  private val m3bImageFrames = Q(
    "m3b_image_frames",
    (s, d) => {
      import s.implicits._
      // pre-filter the INPUT (same rationale as m3): don't encode
      // WAV/AVI payloads for rows the media_type filter would drop
      val media = graft.ops.MultimodalOps
        .mediaFromDocumentsReal(
          T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 0))
        .filter(col("media_type") === "image").toDF()
      graft.ops.MultimodalOps.sampleFrames(media, everyMs = 5000L, decodeImages = true)
        .map { fr =>
          var sum = 0L; var wsum = 0L
          var i = 0
          while (i < fr.frame.length) {
            val b = (fr.frame(i) & 0xff).toLong
            sum += b; wsum += i.toLong * b
            i += 1
          }
          (fr.asset_id, fr.frame_idx, fr.ts_ms, fr.frame.length.toLong, sum, wsum)
        }.toDF("asset_id", "frame_idx", "ts_ms", "frame_len", "frame_sum", "frame_wsum")
    },
    Some("""WITH a AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
           |           FROM documents WHERE doc_id % 3 = 0),
           |p AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS idx FROM a),
           |v AS (SELECT doc_id, w, h, idx,
           |        (doc_id + 7 * (idx % w) + 13 * (idx // w)) % 256 AS r,
           |        (3 * doc_id + 5 * (idx % w) + (idx // w)) % 256 AS g,
           |        (11 * doc_id + (idx % w) + 2 * (idx // w)) % 256 AS b
           |      FROM p)
           |SELECT doc_id AS asset_id, CAST(0 AS INT) AS frame_idx,
           |  CAST(0 AS BIGINT) AS ts_ms,
           |  CAST(3 * any_value(w) * any_value(h) AS BIGINT) AS frame_len,
           |  CAST(sum(r + g + b) AS BIGINT) AS frame_sum,
           |  CAST(sum(3 * idx * r + (3 * idx + 1) * g + (3 * idx + 2) * b) AS BIGINT) AS frame_wsum
           |FROM v GROUP BY doc_id""".stripMargin))

  /** REAL image resize ([[graft.ops.MultimodalOps.resize]]): each image
    * asset's BMP payload is DECODED, resampled to 8×5 by floor-mapping
    * nearest neighbor (`src = (dst·srcDim) // dstDim`,
    * [[graft.ops.MediaCodecs.Resample.nearest]]), and RE-ENCODED; the
    * query then decodes the RESIZED container back (pinning the
    * re-encode round-trip) and emits position-weighted channel sums of
    * the result. The oracle replays the resample formula in closed form
    * from the analytic source-pixel channels — a wrong floor mapping,
    * axis swap, row-order flip, or re-encode slip hash-mismatches
    * (wsum is position-sensitive; plain sums are not). Narrow typed
    * maps, no shuffle.
    */
  private val m6Resize = Q(
    "m6_resize",
    (s, d) => {
      import s.implicits._
      val media = graft.ops.MultimodalOps
        .mediaFromDocumentsReal(
          T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 0))
        .filter(col("media_type") === "image").toDF()
      graft.ops.MultimodalOps.resize(media, width = 8, height = 5)
        .as[graft.ops.MultimodalOps.MediaRow]
        .map { m =>
          val bmp = graft.ops.MediaCodecs.BmpCodec.decode(m.content)
          var sum = 0L; var wsum = 0L
          var i = 0
          while (i < bmp.pixels.length) {
            val p = bmp.pixels(i)
            val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
            sum += r + g + b
            wsum += 3L * i * r + (3L * i + 1) * g + (3L * i + 2) * b
            i += 1
          }
          (m.asset_id, bmp.width, bmp.height, sum, wsum)
        }.toDF("asset_id", "width", "height", "sum_rgb", "wsum_rgb")
    },
    Some("""WITH a AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
           |           FROM documents WHERE doc_id % 3 = 0),
           |p AS (SELECT doc_id, w, h, unnest(range(0, 40)) AS idx FROM a),
           |m AS (SELECT doc_id, idx,
           |        ((idx % 8) * w) // 8 AS sx, ((idx // 8) * h) // 5 AS sy
           |      FROM p),
           |v AS (SELECT doc_id, idx,
           |        (doc_id + 7 * sx + 13 * sy) % 256 AS r,
           |        (3 * doc_id + 5 * sx + sy) % 256 AS g,
           |        (11 * doc_id + sx + 2 * sy) % 256 AS b
           |      FROM m)
           |SELECT doc_id AS asset_id, CAST(8 AS INT) AS width, CAST(5 AS INT) AS height,
           |  CAST(sum(r + g + b) AS BIGINT) AS sum_rgb,
           |  CAST(sum(3 * idx * r + (3 * idx + 1) * g + (3 * idx + 2) * b) AS BIGINT) AS wsum_rgb
           |FROM v GROUP BY doc_id""".stripMargin))

  /** Bilinear twin of [[m6Resize]]: the same decode → resample →
    * re-encode → decode-back path through the EXACT-INTEGER
    * align-corners bilinear kernel
    * ([[graft.ops.MediaCodecs.Resample.bilinear]]) — no floating point
    * anywhere, so the oracle replays the 4-tap weighted average with
    * half-up integer rounding verbatim in SQL and the hash must match
    * bit-for-bit. A float-based resampler could never pass this gate.
    */
  private val m6bResizeBilinear = Q(
    "m6b_resize_bilinear",
    (s, d) => {
      import s.implicits._
      val media = graft.ops.MultimodalOps
        .mediaFromDocumentsReal(
          T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 0))
        .filter(col("media_type") === "image").toDF()
      graft.ops.MultimodalOps.resize(media, width = 8, height = 5, bilinear = true)
        .as[graft.ops.MultimodalOps.MediaRow]
        .map { m =>
          val bmp = graft.ops.MediaCodecs.BmpCodec.decode(m.content)
          var sum = 0L; var wsum = 0L
          var i = 0
          while (i < bmp.pixels.length) {
            val p = bmp.pixels(i)
            val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
            sum += r + g + b
            wsum += 3L * i * r + (3L * i + 1) * g + (3L * i + 2) * b
            i += 1
          }
          (m.asset_id, sum, wsum)
        }.toDF("asset_id", "sum_rgb", "wsum_rgb")
    },
    Some("""WITH a AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
           |           FROM documents WHERE doc_id % 3 = 0),
           |p AS (SELECT doc_id, w, h, unnest(range(0, 40)) AS idx FROM a),
           |-- align-corners rational positions over denominators 7 (x) and 4 (y)
           |m AS (SELECT doc_id, w, h, idx,
           |        ((idx % 8) * (w - 1)) // 7 AS x0, ((idx % 8) * (w - 1)) % 7 AS fx,
           |        ((idx // 8) * (h - 1)) // 4 AS y0, ((idx // 8) * (h - 1)) % 4 AS fy
           |      FROM p),
           |n AS (SELECT doc_id, idx, x0, fx, y0, fy,
           |        least(x0 + 1, w - 1) AS x1, least(y0 + 1, h - 1) AS y1
           |      FROM m),
           |-- the analytic source channels at the 4 taps, then the exact
           |-- half-up weighted average over denominator 28
           |v AS (SELECT doc_id, idx,
           |  (2 * ((doc_id + 7*x0 + 13*y0) % 256 * (7-fx) * (4-fy)
           |      + (doc_id + 7*x1 + 13*y0) % 256 * fx * (4-fy)
           |      + (doc_id + 7*x0 + 13*y1) % 256 * (7-fx) * fy
           |      + (doc_id + 7*x1 + 13*y1) % 256 * fx * fy) + 28) // 56 AS r,
           |  (2 * ((3*doc_id + 5*x0 + y0) % 256 * (7-fx) * (4-fy)
           |      + (3*doc_id + 5*x1 + y0) % 256 * fx * (4-fy)
           |      + (3*doc_id + 5*x0 + y1) % 256 * (7-fx) * fy
           |      + (3*doc_id + 5*x1 + y1) % 256 * fx * fy) + 28) // 56 AS g,
           |  (2 * ((11*doc_id + x0 + 2*y0) % 256 * (7-fx) * (4-fy)
           |      + (11*doc_id + x1 + 2*y0) % 256 * fx * (4-fy)
           |      + (11*doc_id + x0 + 2*y1) % 256 * (7-fx) * fy
           |      + (11*doc_id + x1 + 2*y1) % 256 * fx * fy) + 28) // 56 AS b
           |  FROM n)
           |SELECT doc_id AS asset_id,
           |  CAST(sum(r + g + b) AS BIGINT) AS sum_rgb,
           |  CAST(sum(3 * idx * r + (3 * idx + 1) * g + (3 * idx + 2) * b) AS BIGINT) AS wsum_rgb
           |FROM v GROUP BY doc_id""".stripMargin))

  /** VIDEO resize ([[graft.ops.MultimodalOps.resize]] on AVI payloads):
    * every frame of the container is decoded, floor-mapped to 6×4, and
    * the whole stream RE-ENCODED (frame count and period preserved);
    * the query decodes the resized container back and emits per-frame
    * position-weighted sums — pinning the per-frame resample AND the
    * container round-trip at once. The oracle replays the mapping from
    * the analytic per-frame source channels.
    */
  private val m7VideoResize = Q(
    "m7_video_resize",
    (s, d) => {
      import s.implicits._
      val media = graft.ops.MultimodalOps
        .mediaFromDocumentsReal(
          T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 2))
        .filter(col("media_type") === "video").toDF()
      graft.ops.MultimodalOps.resize(media, width = 6, height = 4)
        .as[graft.ops.MultimodalOps.MediaRow]
        .flatMap { m =>
          val avi = graft.ops.MediaCodecs.AviCodec.decode(m.content)
          avi.frames.iterator.zipWithIndex.map { case (px, f) =>
            var sum = 0L; var wsum = 0L
            var i = 0
            while (i < px.length) {
              val p = px(i)
              val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
              sum += r + g + b
              wsum += 3L * i * r + (3L * i + 1) * g + (3L * i + 2) * b
              i += 1
            }
            (m.asset_id, f, avi.width, avi.height, sum, wsum)
          }
        }.toDF("asset_id", "frame_idx", "width", "height", "sum_rgb", "wsum_rgb")
    },
    Some("""WITH a AS (SELECT doc_id, 4 + doc_id % 11 AS w, 3 + doc_id % 5 AS h,
           |                  2 + doc_id % 9 AS nf
           |           FROM documents WHERE doc_id % 3 = 2),
           |fr AS (SELECT doc_id, w, h, unnest(range(0, nf)) AS f FROM a),
           |p AS (SELECT doc_id, w, h, f, unnest(range(0, 24)) AS idx FROM fr),
           |m AS (SELECT doc_id, f, idx,
           |        ((idx % 6) * w) // 6 AS sx, ((idx // 6) * h) // 4 AS sy
           |      FROM p),
           |v AS (SELECT doc_id, f, idx,
           |        (doc_id + 7 * sx + 13 * sy + 17 * f) % 256 AS r,
           |        (3 * doc_id + 5 * sx + sy + 29 * f) % 256 AS g,
           |        (11 * doc_id + sx + 2 * sy + 23 * f) % 256 AS b
           |      FROM m)
           |SELECT doc_id AS asset_id, CAST(f AS INT) AS frame_idx,
           |  CAST(6 AS INT) AS width, CAST(4 AS INT) AS height,
           |  CAST(sum(r + g + b) AS BIGINT) AS sum_rgb,
           |  CAST(sum(3 * idx * r + (3 * idx + 1) * g + (3 * idx + 2) * b) AS BIGINT) AS wsum_rgb
           |FROM v GROUP BY doc_id, f""".stripMargin))

  /** AUDIO resample ([[graft.ops.MultimodalOps.resampleAudio]]): the
    * WAV payload is decoded, nearest-sample rate-converted 8 kHz →
    * 3 kHz (`dst(i) = src(⌊i·8/3⌋)`, frame-based), and RE-ENCODED at
    * the new rate; the query decodes the resized container back and
    * emits position-weighted sample sums. The oracle replays the index
    * mapping from the analytic source samples — completing the
    * resample family across all three media types (m6/m6b image,
    * m7 video, m8 audio).
    */
  private val m8AudioResample = Q(
    "m8_audio_resample",
    (s, d) => {
      import s.implicits._
      val media = graft.ops.MultimodalOps
        .mediaFromDocumentsReal(
          T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 1))
        .filter(col("media_type") === "audio").toDF()
      graft.ops.MultimodalOps.resampleAudio(media, dstRate = 3000)
        .as[graft.ops.MultimodalOps.MediaRow]
        .map { m =>
          val wav = graft.ops.MediaCodecs.WavCodec.decode(m.content)
          var sum = 0L; var wsum = 0L
          var i = 0
          while (i < wav.samples.length) {
            val v = wav.samples(i).toLong
            sum += v; wsum += i.toLong * v
            i += 1
          }
          (m.asset_id, wav.samples.length, wav.sampleRate,
            m.duration_ms.getOrElse(-1L), sum, wsum)
        }.toDF("asset_id", "n_samples", "sample_rate", "duration_ms",
          "sum_sample", "wsum_sample")
    },
    Some("""WITH a AS (SELECT doc_id, 64 + doc_id % 191 AS n
           |           FROM documents WHERE doc_id % 3 = 1),
           |d AS (SELECT doc_id, n, (n * 3000) // 8000 AS dn FROM a),
           |p AS (SELECT doc_id, n, dn, unnest(range(0, dn)) AS i FROM d),
           |v AS (SELECT doc_id, dn, i,
           |        (doc_id * 2654435761 + ((i * 8000) // 3000) * 40503) % 65536
           |          - 32768 AS s
           |      FROM p)
           |SELECT doc_id AS asset_id, CAST(any_value(dn) AS INT) AS n_samples,
           |  CAST(3000 AS INT) AS sample_rate,
           |  CAST(any_value(dn) * 1000 // 3000 AS BIGINT) AS duration_ms,
           |  CAST(sum(s) AS BIGINT) AS sum_sample,
           |  CAST(sum(i * s) AS BIGINT) AS wsum_sample
           |FROM v GROUP BY doc_id""".stripMargin))

  /** REAL audio decode: each audio asset's payload is an actual PCM16
    * RIFF/WAVE container ([[graft.ops.MediaCodecs.syntheticWav]] —
    * samples analytic in doc_id), parsed back by the pure-JVM
    * [[graft.ops.MediaCodecs.WavCodec]]; the output is integer sample
    * statistics of the DECODED stream. The DuckDB oracle recomputes
    * them in closed form, so a mis-parsed fmt chunk, wrong data offset,
    * or byte-order slip hash-mismatches; `byte_len` additionally pins
    * the 44-byte canonical header framing. Narrow map-only plan — the
    * decode runs where the row lives, no shuffle.
    */
  private val m4WavDecode = Q(
    "m4_wav_decode",
    (s, d) => {
      import s.implicits._
      T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val bytes = graft.ops.MediaCodecs.syntheticWav(id)
            val wav = graft.ops.MediaCodecs.WavCodec.decode(bytes)
            var sum = 0L; var sabs = 0L; var peak = 0L
            var i = 0
            while (i < wav.samples.length) {
              val v = wav.samples(i).toLong
              sum += v; sabs += math.abs(v); peak = math.max(peak, math.abs(v))
              i += 1
            }
            (id, wav.samples.length, wav.sampleRate, wav.channels,
              sum, sabs, peak, bytes.length.toLong)
          }
        }.toDF("asset_id", "n_samples", "sample_rate", "channels",
          "sum_sample", "sum_abs", "peak_abs", "byte_len")
    },
    Some("""WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 1),
           |s AS (SELECT doc_id, unnest(range(0, 64 + doc_id % 191)) AS i FROM a),
           |v AS (SELECT doc_id,
           |        (doc_id * 2654435761 + i * 40503) % 65536 - 32768 AS smp
           |      FROM s)
           |SELECT doc_id AS asset_id,
           |  CAST(count(*) AS INT) AS n_samples,
           |  8000 AS sample_rate,
           |  1 AS channels,
           |  CAST(sum(smp) AS BIGINT) AS sum_sample,
           |  CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
           |  CAST(max(abs(smp)) AS BIGINT) AS peak_abs,
           |  CAST(44 + 2 * count(*) AS BIGINT) AS byte_len
           |FROM v GROUP BY doc_id""".stripMargin))

  /** REAL image decode: each image asset's payload is an actual 24-bpp
    * BI_RGB BMP ([[graft.ops.MediaCodecs.syntheticBmp]] — channels
    * analytic in (doc_id, x, y)), parsed back by the pure-JVM
    * [[graft.ops.MediaCodecs.BmpCodec]]. Channel sums pin the BGR byte
    * order; the position-weighted `wsum_r` pins the bottom-up → top-down
    * row flip (plain sums are row-order invariant, the weighted one is
    * not); `byte_len` pins the 4-byte row-stride padding. Narrow
    * map-only plan.
    */
  private val m5BmpDecode = Q(
    "m5_bmp_decode",
    (s, d) => {
      import s.implicits._
      T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val bytes = graft.ops.MediaCodecs.syntheticBmp(id)
            val bmp = graft.ops.MediaCodecs.BmpCodec.decode(bytes)
            var sr = 0L; var sg = 0L; var sb = 0L; var wr = 0L
            var i = 0
            while (i < bmp.pixels.length) {
              val p = bmp.pixels(i)
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
              wr += i.toLong * ((p >> 16) & 0xff)
              i += 1
            }
            (id, bmp.width, bmp.height, sr, sg, sb, wr, bytes.length.toLong)
          }
        }.toDF("asset_id", "width", "height", "sum_r", "sum_g", "sum_b",
          "wsum_r", "byte_len")
    },
    Some("""WITH a AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
           |           FROM documents WHERE doc_id % 3 = 0),
           |p AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS idx FROM a),
           |c AS (SELECT doc_id, w, h, idx, idx % w AS x, idx // w AS y FROM p),
           |v AS (SELECT doc_id, w, h, idx,
           |        (doc_id + 7 * x + 13 * y) % 256 AS r,
           |        (3 * doc_id + 5 * x + y) % 256 AS g,
           |        (11 * doc_id + x + 2 * y) % 256 AS b
           |      FROM c)
           |SELECT doc_id AS asset_id,
           |  CAST(any_value(w) AS INT) AS width,
           |  CAST(any_value(h) AS INT) AS height,
           |  CAST(sum(r) AS BIGINT) AS sum_r,
           |  CAST(sum(g) AS BIGINT) AS sum_g,
           |  CAST(sum(b) AS BIGINT) AS sum_b,
           |  CAST(sum(idx * r) AS BIGINT) AS wsum_r,
           |  CAST(54 + any_value(h) * ((3 * any_value(w) + 3) // 4 * 4) AS BIGINT) AS byte_len
           |FROM v GROUP BY doc_id""".stripMargin))

  /** m9 — REAL PNG decode through `javax.imageio`
    * ([[graft.ops.ImageIoCodecs]]): payload = an ACTUAL PNG container
    * whose decoded raster follows the same analytic law as the m5 BMPs,
    * routed through the sniff-and-dispatch seam ([[graft.ops
    * .ImageIoCodecs.decodeAny]]). PNG is lossless, so channel sums are
    * closed-form for the oracle exactly like m5 — this hash-pins the
    * ImageIO decode path end-to-end (compressed container in, exact
    * integer statistics out). Narrow mapPartitions, no shuffle.
    */
  private val m9PngDecode = Q(
    "m9_png_decode",
    (s, d) => {
      import s.implicits._
      T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val bytes = graft.ops.ImageIoCodecs.syntheticPng(id)
            val img = graft.ops.ImageIoCodecs.decodeAny(bytes)
            var sr = 0L; var sg = 0L; var sb = 0L; var wr = 0L
            var i = 0
            while (i < img.pixels.length) {
              val p = img.pixels(i)
              sr += (p >> 16) & 0xff; sg += (p >> 8) & 0xff; sb += p & 0xff
              wr += i.toLong * ((p >> 16) & 0xff)
              i += 1
            }
            (id, img.width, img.height, img.format, sr, sg, sb, wr)
          }
        }.toDF("asset_id", "width", "height", "fmt", "sum_r", "sum_g",
          "sum_b", "wsum_r")
    },
    Some("""WITH a AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
           |           FROM documents WHERE doc_id % 3 = 1),
           |p AS (SELECT doc_id, w, h, unnest(range(0, w * h)) AS idx FROM a),
           |c AS (SELECT doc_id, w, h, idx, idx % w AS x, idx // w AS y FROM p),
           |v AS (SELECT doc_id, w, h, idx,
           |        (doc_id + 7 * x + 13 * y) % 256 AS r,
           |        (3 * doc_id + 5 * x + y) % 256 AS g,
           |        (11 * doc_id + x + 2 * y) % 256 AS b
           |      FROM c)
           |SELECT doc_id AS asset_id,
           |  CAST(any_value(w) AS INT) AS width,
           |  CAST(any_value(h) AS INT) AS height,
           |  'png' AS fmt,
           |  CAST(sum(r) AS BIGINT) AS sum_r,
           |  CAST(sum(g) AS BIGINT) AS sum_g,
           |  CAST(sum(b) AS BIGINT) AS sum_b,
           |  CAST(sum(idx * r) AS BIGINT) AS wsum_r
           |FROM v GROUP BY doc_id""".stripMargin))

  /** m10 — resize over PNG assets: sniffed ImageIO decode → exact
    * nearest-neighbor resample → re-encode IN THE SOURCE CONTAINER
    * (the output stays PNG — `fmt` is part of the hashed result), then
    * decode back for closed-form channel sums. Proves the full
    * compressed-image resize round trip is lossless and the format
    * survives the [[graft.ops.MultimodalOps.resize]] path.
    */
  private val m10PngResize = Q(
    "m10_png_resize",
    (s, d) => {
      import s.implicits._
      val media = T.documents(s, d)
        .where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).as[Long]
        .map { id =>
          val w = 4 + (id % 13).toInt; val h = 3 + (id % 7).toInt
          graft.ops.MultimodalOps.MediaRow(
            id, "image", graft.ops.ImageIoCodecs.syntheticPng(id),
            Some(w), Some(h), None)
        }.toDF()
      graft.ops.MultimodalOps.resize(media, width = 8, height = 5)
        .as[graft.ops.MultimodalOps.MediaRow]
        .map { m =>
          val img = graft.ops.ImageIoCodecs.decodeAny(m.content)
          var sum = 0L; var wsum = 0L
          var i = 0
          while (i < img.pixels.length) {
            val p = img.pixels(i)
            val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
            sum += r + g + b
            wsum += 3L * i * r + (3L * i + 1) * g + (3L * i + 2) * b
            i += 1
          }
          (m.asset_id, img.width, img.height, img.format, sum, wsum)
        }.toDF("asset_id", "width", "height", "fmt", "sum_rgb", "wsum_rgb")
    },
    Some("""WITH a AS (SELECT doc_id, 4 + doc_id % 13 AS w, 3 + doc_id % 7 AS h
           |           FROM documents WHERE doc_id % 3 = 1),
           |p AS (SELECT doc_id, w, h, unnest(range(0, 40)) AS idx FROM a),
           |m AS (SELECT doc_id, idx,
           |        ((idx % 8) * w) // 8 AS sx, ((idx // 8) * h) // 5 AS sy
           |      FROM p),
           |v AS (SELECT doc_id, idx,
           |        (doc_id + 7 * sx + 13 * sy) % 256 AS r,
           |        (3 * doc_id + 5 * sx + sy) % 256 AS g,
           |        (11 * doc_id + sx + 2 * sy) % 256 AS b
           |      FROM m)
           |SELECT doc_id AS asset_id, CAST(8 AS INT) AS width,
           |  CAST(5 AS INT) AS height, 'png' AS fmt,
           |  CAST(sum(r + g + b) AS BIGINT) AS sum_rgb,
           |  CAST(sum(3 * idx * r + (3 * idx + 1) * g + (3 * idx + 2) * b) AS BIGINT) AS wsum_rgb
           |FROM v GROUP BY doc_id""".stripMargin))

  /** m11 — image near-duplicate dedup
    * ([[graft.ops.DedupOps.imageNearDupPairs]]): perceptual dHash
    * (decode → integer gray → 9×8 nearest resample → 64 gradient bits,
    * [[graft.functions.ImageDHash]]) + the Manku Hamming block banding
    * text SimHash uses. Fixture: every decade of doc ids shares ONE
    * synthetic PNG (the 10-way clone law), so within-decade pairs land
    * at Hamming 0 and cross-decade pairs land wherever the pixel law
    * puts them. Every stage is integer-exact, so the oracle recomputes
    * the dHash analytically (sample positions = the m10 resample law,
    * grayscale = fixed-point BT.601) and takes ALL pairs within the
    * radius — banding completeness is part of what's being checked.
    */
  private val m11ImageNearDup = Q(
    "m11_image_neardup",
    (s, d) => {
      import s.implicits._
      val media = T.documents(s, d)
        .where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id")).as[Long]
        .mapPartitions(ids => ids.map { id =>
          (id, graft.ops.ImageIoCodecs.syntheticPng(id - id % 10))
        }).toDF("doc_id", "img")
      graft.ops.DedupOps.imageNearDupPairs(media, "doc_id", "img",
        maxDist = 3)
    },
    Some("""WITH a AS (SELECT doc_id, doc_id - doc_id % 10 AS base
           |           FROM documents WHERE doc_id % 3 = 1),
           |dims AS (SELECT doc_id, base, 4 + base % 13 AS w, 3 + base % 7 AS h FROM a),
           |px AS (SELECT doc_id, base, w, h, unnest(range(0, 72)) AS i FROM dims),
           |sm AS (SELECT doc_id, base, i % 9 AS x, i // 9 AS y,
           |         ((i % 9) * w) // 9 AS sx, ((i // 9) * h) // 8 AS sy
           |       FROM px),
           |gr AS (SELECT doc_id, x, y,
           |        (299 * ((base + 7 * sx + 13 * sy) % 256)
           |       + 587 * ((3 * base + 5 * sx + sy) % 256)
           |       + 114 * ((11 * base + sx + 2 * sy) % 256)) // 1000 AS g
           |       FROM sm),
           |bits AS (SELECT l.doc_id, l.x, l.y, (r.g > l.g) AS bit
           |         FROM gr l JOIN gr r ON r.doc_id = l.doc_id
           |           AND r.y = l.y AND r.x = l.x + 1
           |         WHERE l.x < 8),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |        sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
           |      FROM bits a JOIN bits b ON a.x = b.x AND a.y = b.y
           |        AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
           |FROM p WHERE hamming <= 3""".stripMargin))

  /** m12 — INCREMENTAL image near-dup dedup
    * ([[graft.ops.IncrementalDedupOps.ingestImageShard]]): m11's corpus
    * ingested as two shards, each hashed and banded once and joined
    * against the persisted band index — no image is ever decoded twice
    * — and the accumulated edge set must equal the one-shot m11 run on
    * the union, which is why this row shares m11's analytic dHash
    * oracle verbatim.
    */
  private val m12IncrementalImageNearDup = Q(
    "m12_incremental_image_neardup",
    (s, d) => {
      import s.implicits._
      val ids = T.documents(s, d)
        .where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id"))
      val media = ids.as[Long]
        .mapPartitions(it => it.map { id =>
          (id, graft.ops.ImageIoCodecs.syntheticPng(id - id % 10))
        }).toDF("doc_id", "img")
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_m12_state").toString
      // range from the RAW id column — an agg over `media` would force
      // a full synthetic-PNG pass just to learn the split point
      val r = ids.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      graft.ops.IncrementalDedupOps.ingestImageShard(s,
        media.where(col("doc_id") <= mid), "doc_id", "img", stateDir,
        batchId = 0L, maxDist = 3)
      graft.ops.IncrementalDedupOps.ingestImageShard(s,
        media.where(col("doc_id") > mid), "doc_id", "img", stateDir,
        batchId = 1L, maxDist = 3)
      graft.ops.IncrementalDedupOps.imagePairs(s, stateDir)
    },
    // (oracle shared verbatim with m11 — see m12's doc above)
    Some("""WITH a AS (SELECT doc_id, doc_id - doc_id % 10 AS base
           |           FROM documents WHERE doc_id % 3 = 1),
           |dims AS (SELECT doc_id, base, 4 + base % 13 AS w, 3 + base % 7 AS h FROM a),
           |px AS (SELECT doc_id, base, w, h, unnest(range(0, 72)) AS i FROM dims),
           |sm AS (SELECT doc_id, base, i % 9 AS x, i // 9 AS y,
           |         ((i % 9) * w) // 9 AS sx, ((i // 9) * h) // 8 AS sy
           |       FROM px),
           |gr AS (SELECT doc_id, x, y,
           |        (299 * ((base + 7 * sx + 13 * sy) % 256)
           |       + 587 * ((3 * base + 5 * sx + sy) % 256)
           |       + 114 * ((11 * base + sx + 2 * sy) % 256)) // 1000 AS g
           |       FROM sm),
           |bits AS (SELECT l.doc_id, l.x, l.y, (r.g > l.g) AS bit
           |         FROM gr l JOIN gr r ON r.doc_id = l.doc_id
           |           AND r.y = l.y AND r.x = l.x + 1
           |         WHERE l.x < 8),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |        sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
           |      FROM bits a JOIN bits b ON a.x = b.x AND a.y = b.y
           |        AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
           |FROM p WHERE hamming <= 3""".stripMargin))

  /** m15 — IMAGE TOMBSTONES
    * ([[graft.ops.StateRoot.delete]]): images retracted
    * from the incremental near-dup state. Near-dup pairs are PAIRWISE
    * facts, so deletion here is EXACT — the oracle is m11/m12's
    * analytic dHash chain restricted to the surviving images (`doc_id
    * % 7 <> 1`): every pair touching a deleted image drops, every other
    * pair (including cross-shard ones minted before the deletion) is
    * untouched, hash-exactly.
    */
  private val m15ImageTombstones = Q(
    "m15_image_tombstones",
    (s, d) => {
      import s.implicits._
      val ids = T.documents(s, d)
        .where(pmod(col("doc_id"), lit(3)) === 1)
        .select(col("doc_id"))
      val media = ids.as[Long]
        .mapPartitions(it => it.map { id =>
          (id, graft.ops.ImageIoCodecs.syntheticPng(id - id % 10))
        }).toDF("doc_id", "img")
      val stateDir = java.nio.file.Files
        .createTempDirectory("graft_m15_state").toString
      val r = ids.agg(min(col("doc_id")), max(col("doc_id"))).head
      val mid = (r.getLong(0) + r.getLong(1)) / 2
      graft.ops.IncrementalDedupOps.ingestImageShard(s,
        media.where(col("doc_id") <= mid), "doc_id", "img", stateDir,
        batchId = 0L, maxDist = 3)
      graft.ops.IncrementalDedupOps.ingestImageShard(s,
        media.where(col("doc_id") > mid), "doc_id", "img", stateDir,
        batchId = 1L, maxDist = 3)
      graft.ops.StateRoot.deleteIn(s, graft.ops.IncrementalDedupOps.Images,
        ids.where(pmod(col("doc_id"), lit(7)) === 1), "doc_id",
        stateDir, 0L)
      graft.ops.IncrementalDedupOps.imagePairs(s, stateDir)
    },
    Some("""WITH a AS (SELECT doc_id, doc_id - doc_id % 10 AS base
           |           FROM documents
           |           WHERE doc_id % 3 = 1 AND doc_id % 7 <> 1),
           |dims AS (SELECT doc_id, base, 4 + base % 13 AS w, 3 + base % 7 AS h FROM a),
           |px AS (SELECT doc_id, base, w, h, unnest(range(0, 72)) AS i FROM dims),
           |sm AS (SELECT doc_id, base, i % 9 AS x, i // 9 AS y,
           |         ((i % 9) * w) // 9 AS sx, ((i // 9) * h) // 8 AS sy
           |       FROM px),
           |gr AS (SELECT doc_id, x, y,
           |        (299 * ((base + 7 * sx + 13 * sy) % 256)
           |       + 587 * ((3 * base + 5 * sx + sy) % 256)
           |       + 114 * ((11 * base + sx + 2 * sy) % 256)) // 1000 AS g
           |       FROM sm),
           |bits AS (SELECT l.doc_id, l.x, l.y, (r.g > l.g) AS bit
           |         FROM gr l JOIN gr r ON r.doc_id = l.doc_id
           |           AND r.y = l.y AND r.x = l.x + 1
           |         WHERE l.x < 8),
           |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           |        sum(CASE WHEN a.bit <> b.bit THEN 1 ELSE 0 END) AS hamming
           |      FROM bits a JOIN bits b ON a.x = b.x AND a.y = b.y
           |        AND a.doc_id < b.doc_id
           |      GROUP BY 1, 2)
           |SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
           |FROM p WHERE hamming <= 3""".stripMargin))

  /** m13 — REAL compressed-audio decode: each asset's payload is an
    * actual FLAC stream ([[graft.ops.FlacCodec.syntheticFlac]] — a
    * closed-form corpus whose per-asset shape is 16 constant samples →
    * 16-sample linear ramp → hash noise, so every asset carries
    * CONSTANT, FIXED and data-chosen subframes), parsed back by the
    * pure-JVM [[graft.ops.FlacCodec]] with CRC-8/CRC-16/MD5 all
    * enforced. The DuckDB oracle recomputes the decoded sample
    * statistics and the frame count in closed form — a wrong Rice
    * unzigzag, predictor coefficient, warm-up handling, or partition
    * walk hash-mismatches. Narrow map-only plan: encode+decode run
    * where the row lives, no shuffle.
    */
  private val m13FlacDecode = Q(
    "m13_flac_decode",
    (s, d) => {
      import s.implicits._
      T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 2)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val bytes = graft.ops.FlacCodec.syntheticFlac(id)
            val flac = graft.ops.FlacCodec.decode(bytes)
            var sum = 0L; var sabs = 0L; var peak = 0L
            var i = 0
            while (i < flac.samples.length) {
              val v = flac.samples(i).toLong
              sum += v; sabs += math.abs(v); peak = math.max(peak, math.abs(v))
              i += 1
            }
            val nFrames =
              flac.nConstant + flac.nVerbatim + flac.nFixed.sum + flac.nLpc
            (id, flac.samples.length, flac.sampleRate, flac.channels,
              sum, sabs, peak, nFrames,
              flac.nConstant >= 1, flac.nFixed.sum >= 1)
          }
        }.toDF("asset_id", "n_samples", "sample_rate", "channels",
          "sum_sample", "sum_abs", "peak_abs", "n_frames",
          "has_constant", "has_fixed")
    },
    Some("""WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 2),
           |s AS (SELECT doc_id, unnest(range(0, 64 + doc_id % 191)) AS i FROM a),
           |v AS (SELECT doc_id,
           |        CASE WHEN i < 16 THEN (doc_id * 31) % 65536 - 32768
           |             WHEN i < 32 THEN (1 + doc_id % 96) * (i - 16) + doc_id % 1003 - 500
           |             ELSE (doc_id * 2654435761 + i * 40503) % 65536 - 32768
           |        END AS smp
           |      FROM s)
           |SELECT doc_id AS asset_id,
           |  CAST(count(*) AS INT) AS n_samples,
           |  8000 AS sample_rate,
           |  1 AS channels,
           |  CAST(sum(smp) AS BIGINT) AS sum_sample,
           |  CAST(sum(abs(smp)) AS BIGINT) AS sum_abs,
           |  CAST(max(abs(smp)) AS BIGINT) AS peak_abs,
           |  CAST((count(*) + 15) // 16 AS INT) AS n_frames,
           |  TRUE AS has_constant,
           |  TRUE AS has_fixed
           |FROM v GROUP BY doc_id""".stripMargin))

  /** m14 — stereo FLAC decode with channel decorrelation
    * ([[graft.ops.FlacCodec.syntheticFlacStereo]]): right = left +
    * tiny dither, so the encoder's exact-size frame planner picks a
    * decorrelated assignment (left/side, right/side or mid/side — side
    * at 17 bits) for every frame, and the decoder must reconstruct L/R
    * through the side channel — including the mid/side dropped-low-bit
    * case — to match the closed-form per-channel sums. `has_decorr`
    * pins that the stereo machinery actually engaged (an encoder that
    * silently fell back to independent channels would still decode
    * correctly but fail this flag).
    */
  private val m14FlacStereo = Q(
    "m14_flac_stereo_decode",
    (s, d) => {
      import s.implicits._
      T.documents(s, d).where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("doc_id")).as[Long]
        .mapPartitions { ids =>
          ids.map { id =>
            val flac = graft.ops.FlacCodec.decode(
              graft.ops.FlacCodec.syntheticFlacStereo(id))
            var sumL = 0L; var sumR = 0L; var peak = 0L
            var i = 0
            while (i < flac.samples.length) {
              val v = flac.samples(i).toLong
              if (i % 2 == 0) sumL += v else sumR += v
              peak = math.max(peak, math.abs(v))
              i += 1
            }
            (id, flac.samples.length, flac.sampleRate, flac.channels,
              sumL, sumR, peak, flac.nDecorrelated >= 1)
          }
        }.toDF("asset_id", "n_samples", "sample_rate", "channels",
          "sum_left", "sum_right", "peak_abs", "has_decorr")
    },
    Some("""WITH a AS (SELECT doc_id FROM documents WHERE doc_id % 3 = 0),
           |s AS (SELECT doc_id, unnest(range(0, 48 + doc_id % 97)) AS i FROM a),
           |v AS (SELECT doc_id,
           |        (doc_id*7919 + i*104729) % 60000 - 30000 AS l,
           |        ((doc_id*7919 + i*104729) % 60000 - 30000) + i % 5 - 2 AS r
           |      FROM s)
           |SELECT doc_id AS asset_id,
           |  CAST(2 * count(*) AS INT) AS n_samples,
           |  16000 AS sample_rate,
           |  2 AS channels,
           |  CAST(sum(l) AS BIGINT) AS sum_left,
           |  CAST(sum(r) AS BIGINT) AS sum_right,
           |  CAST(max(greatest(abs(l), abs(r))) AS BIGINT) AS peak_abs,
           |  TRUE AS has_decorr
           |FROM v GROUP BY doc_id""".stripMargin))

  // ------------------------------------------ KF ETL end-to-end slice (§7.2)

  /** KF-shaped slice inputs (studies/participants/families) derived from
    * region/nation/customer, shared by the content-level JSON oracle
    * queries below.
    */
  private def kfSliceResult(s: SparkSession, d: String): graft.etl.Transform.Result = {
      val region = T.region(s, d)
      val customer = T.customer(s, d)
      val nation = T.nation(s, d)
      // KF-shaped "studies": one per region
      val studies = region.select(
        concat(lit("SD_"), col("r_regionkey")).as("kf_id"),
        concat(lit("phs00000"), col("r_regionkey"), lit(".v1.p1")).as("external_id"),
        col("r_name").as("name"),
        col("r_name").as("short_name"),
        concat(lit("S"), col("r_regionkey")).as("short_code"),
        lit("v1").as("version"),
        lit(null).cast("string").as("attribution"),
        lit("dbGaP").as("data_access_authority"),
        lit("CANCER").as("domain"),
        lit("Kids First").as("program"),
        lit("Pending").as("release_status"),
        lit("True").as("visible"),
        lit(null).cast("string").as("investigator_id"))
      // KF-shaped "participants": customers, study via nation→region
      val genderBySeg = typedLit(Map(
        "BUILDING" -> "Male", "AUTOMOBILE" -> "Female", "MACHINERY" -> "Male",
        "HOUSEHOLD" -> "Female", "FURNITURE" -> "Other"))
      val raceByMod = typedLit(Map(
        0 -> "White", 1 -> "Asian", 2 -> "Black or African American",
        3 -> "Unknown", 4 -> "Not Reported"))
      val participants = customer
        .join(nation, customer("c_nationkey") === nation("n_nationkey"))
        .select(
          concat(lit("PT_"), col("c_custkey")).as("kf_id"),
          col("c_name").as("external_id"),
          concat(lit("SD_"), col("n_regionkey")).as("study_id"),
          concat(lit("FM_"), col("c_nationkey")).as("family_id"),
          lit("True").as("is_proband"),
          lit("True").as("affected_status"),
          lit("Cancer").as("diagnosis_category"),
          element_at(genderBySeg, col("c_mktsegment")).as("gender"),
          lit("Not Hispanic or Latino").as("ethnicity"),
          element_at(raceByMod, (col("c_custkey") % 5).cast("int")).as("race"),
          lit("Homo sapiens").as("species"),
          lit("True").as("visible"))
      val families = participants.select(col("family_id").as("kf_id"))
        .distinct()
        .withColumn("external_id", concat(lit("fam-"), col("kf_id")))
        .withColumn("visible", lit("True"))
      graft.etl.Transform(Map(
        "studies" -> studies,
        "participants" -> participants,
        "families" -> families))
  }

  /** The reference pipeline end-to-end on KF-shaped tables derived from
    * the TPC-H data: extract-shaped inputs → rename → presence-driven
    * outer-join chain → clean → Patient document expression → to_json.
    * Touches every layer (SURVEY §7.2). The oracle re-derives the FULL
    * resource_json byte-for-byte in DuckDB (independent string-built
    * canonical JSON from customer⋈nation, reproducing to_json's
    * null-dropping: race extension vanishes where CleanOps nulls the
    * "Unknown"/"Not Reported" sentinels) — the content-level check for
    * the builder bodies, not just cardinalities.
    */
  private val kfPatientSlice = Q(
    "kf_patient_slice",
    (s, d) => graft.documents.FhirBuilders.patient(kfSliceResult(s, d).wide),
    Some("""WITH p AS (
           |  SELECT 'PT_' || c_custkey AS pid,
           |         c_name AS external_id,
           |         'SD_' || n_regionkey AS study_id,
           |         CASE c_mktsegment
           |           WHEN 'BUILDING' THEN 'male' WHEN 'MACHINERY' THEN 'male'
           |           WHEN 'AUTOMOBILE' THEN 'female' WHEN 'HOUSEHOLD' THEN 'female'
           |           WHEN 'FURNITURE' THEN 'other' END AS gender,
           |         CASE c_custkey % 5
           |           WHEN 0 THEN 'White' WHEN 1 THEN 'Asian'
           |           WHEN 2 THEN 'Black or African American' END AS race,
           |         CASE c_custkey % 5
           |           WHEN 0 THEN '2106-3' WHEN 1 THEN '2028-9'
           |           WHEN 2 THEN '2054-5' END AS race_code
           |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
           |SELECT pid AS key, 'Patient' AS resource_type,
           |  '{"resourceType":"Patient","id":"' || md5('Patient/' || pid) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/Patient"],"tag":[{"code":"' || study_id ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/participants/","value":"' || pid ||
           |  '"},{"use":"secondary","value":"' || external_id ||
           |  '"}],"extension":[' ||
           |  CASE WHEN race IS NOT NULL THEN
           |    '{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-race","extension":[{"url":"text","valueString":"' || race ||
           |    '"},{"url":"ombCategory","valueCoding":{"system":"urn:oid:2.16.840.1.113883.6.238","code":"' || race_code ||
           |    '","display":"' || race || '"}}]},'
           |  ELSE '' END ||
           |  '{"url":"http://hl7.org/fhir/us/core/StructureDefinition/us-core-ethnicity","extension":[{"url":"text","valueString":"Not Hispanic or Latino"},{"url":"ombCategory","valueCoding":{"system":"urn:oid:2.16.840.1.113883.6.238","code":"2186-5","display":"Not Hispanic or Latino"}}]}],"gender":"' ||
           |  gender || '"}' AS resource_json
           |FROM p""".stripMargin))

  /** ResearchSubject bodies over the same slice — second content-level
    * JSON oracle (research_subject.py:18-76 shape: meta tag, two
    * identifiers, study + individual surrogate references).
    */
  private val kfRSubjectSlice = Q(
    "kf_rsubject_slice",
    (s, d) => graft.documents.ParticipantBuilders.researchSubject(kfSliceResult(s, d).wide),
    Some("""WITH p AS (
           |  SELECT 'PT_' || c_custkey AS pid,
           |         c_name AS external_id,
           |         'SD_' || n_regionkey AS study_id
           |  FROM customer JOIN nation ON c_nationkey = n_nationkey)
           |SELECT pid AS key, 'ResearchSubject' AS resource_type,
           |  '{"resourceType":"ResearchSubject","id":"' || md5('ResearchSubject/' || pid) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/ResearchSubject"],"tag":[{"code":"' || study_id ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/participants/","value":"' || pid ||
           |  '"},{"use":"secondary","value":"' || external_id ||
           |  '"}],"status":"off-study","study":{"reference":"ResearchStudy/' || md5('ResearchStudy/' || study_id) ||
           |  '"},"individual":{"reference":"Patient/' || md5('Patient/' || pid) || '"}}' AS resource_json
           |FROM p""".stripMargin))

  /** Specimen bodies over the real biospecimen chain — third content-level
    * JSON oracle (specimen.py:438-638: consent/dbgap → meta.security,
    * three identifiers, NCIT/OBI type codings, collection block with
    * relative-date extension, volume quantity, SNOMED method,
    * prefix-sensitive bodySite systems). The oracle re-derives the FULL
    * resource_json byte-for-byte in DuckDB from lineitem⋈orders⋈customer⋈
    * nation, reproducing to_json's null-dropping per branch.
    *
    * Covers ALL keys including the ~24% duplicated (orderkey,
    * linenumber) pairs: the builder's deterministic min-struct dedup
    * (CleanOps.dedupMinByKey) makes the duplicate-key survivor
    * byte-reproducible, pinned here with a matching QUALIFY.
    */
  private val kfSpecimenSlice = Q(
    "kf_specimen_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.SpecimenBuilder.specimen(
        result.slice(Set("studies", "participants", "biospecimens")))
    },
    // ALL keys: the builder's dedupMinByKey keeps the min-struct row per
    // bs_id; reproduce with row_number ordered by the columns that VARY
    // within a duplicate-key group (dbgap, ncit_tissue, volume, uberon,
    // ncit_site — the pk/sk/qty-derived ones), in Spark struct order.
    // Every other struct field derives from (ok, ln) alone and is
    // constant within the group, so it cannot affect the comparison.
    Some("""WITH b0 AS (
           |  SELECT l.l_orderkey AS ok, l.l_linenumber AS ln,
           |         l.l_partkey % 100 AS pk, l.l_suppkey AS sk,
           |         l.l_quantity AS qty, o.o_custkey AS ck, n.n_regionkey AS rk,
           |         l.l_orderkey || '_' || l.l_linenumber AS k
           |  FROM lineitem l
           |  JOIN orders o ON l.l_orderkey = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN nation n ON c.c_nationkey = n.n_nationkey),
           |b AS (
           |  SELECT * FROM b0
           |  QUALIFY row_number() OVER (PARTITION BY k ORDER BY
           |    'phs00000' || (sk % 5) || '.c' || ln,
           |    CASE WHEN ln % 2 = 0 THEN 'NCIT:C' || pk ELSE 'no-prefix' END,
           |    CAST(qty AS VARCHAR),
           |    CASE WHEN ln % 3 = 0 THEN 'UBERON:00' || pk
           |         WHEN ln % 3 = 1 THEN 'EFO:' || pk ELSE 'bare-code' END,
           |    'NCIT:C' || (sk % 100)) = 1)
           |SELECT 'BS_' || k AS key, 'Specimen' AS resource_type,
           |  '{"resourceType":"Specimen","id":"' || md5('Specimen/BS_' || k) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/Specimen"],"tag":[{"code":"SD_' || rk ||
           |  '"}],"security":[' ||
           |  CASE WHEN ln % 2 = 0 THEN '{"system":"https://kf-api-dataservice.kidsfirstdrc.org/biospecimens?consent_type=","code":"GRU"},' ELSE '' END ||
           |  '{"system":"https://kf-api-dataservice.kidsfirstdrc.org/biospecimens?dbgap_consent_code=","code":"phs00000' || (sk % 5) || '.c' || ln ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/biospecimens/","value":"BS_' || k ||
           |  '"},{"use":"secondary","system":"https://kf-api-dataservice.kidsfirstdrc.org/biospecimens?external_sample_id=","value":"sample-' || ok ||
           |  '"},{"use":"secondary","system":"https://kf-api-dataservice.kidsfirstdrc.org/biospecimens?external_aliquot_id=","value":"aliquot-' || k ||
           |  '"}],"status":"unavailable","subject":{"reference":"Patient/' || md5('Patient/PT_' || ck) ||
           |  '"},"type":{"coding":[' ||
           |  CASE WHEN ln % 2 = 0 THEN '{"system":"http://purl.obolibrary.org/obo/ncit.owl","code":"NCIT:C' || pk || '"},' ELSE '' END ||
           |  CASE WHEN ln % 3 = 0 THEN '{"system":"http://purl.obolibrary.org/obo/ncit.owl","code":"C17610","display":"Blood Sample"},'
           |       WHEN ln % 3 = 1 THEN '{"system":"http://purl.obolibrary.org/obo/ncit.owl","code":"C174119","display":"Saliva Sample"},'
           |       ELSE '' END ||
           |  CASE WHEN ln % 2 = 0 THEN '{"system":"http://purl.obolibrary.org/obo/obi.owl","code":"OBI:0001051","display":"DNA extract"}'
           |       ELSE '{"system":"http://purl.obolibrary.org/obo/obi.owl","code":"OBI:0000880","display":"RNA extract"}' END ||
           |  ']' || CASE WHEN ln % 2 = 0 THEN ',"text":"Tumor"' ELSE '' END ||
           |  '},"collection":{"_collectedDateTime":{"extension":[{"extension":[{"url":"event","valueCodeableConcept":{"coding":[{"system":"http://snomed.info/sct","code":"3950001","display":"Birth"}]}},{"url":"relationship","valueCode":"after"},{"url":"offset","valueDuration":{"value":' || (ok % 4000) ||
           |  ',"unit":"day","system":"http://unitsofmeasure.org","code":"d"}}],"url":"http://hl7.org/fhir/StructureDefinition/relative-date"}]},"quantity":{"value":' || qty ||
           |  ',"unit":"microliters","system":"http://unitsofmeasure.org","code":"uL"},"method":' ||
           |  CASE WHEN ln % 2 = 0 THEN '{"coding":[{"system":"http://snomed.info/sct","code":"396540005","display":"Phlebotomy (procedure)"}],"text":"Blood Draw"}'
           |       ELSE '{"coding":[{"system":"http://snomed.info/sct","code":"86273004","display":"Biopsy (procedure)"}],"text":"Biopsy"}' END ||
           |  ',"bodySite":{"text":"Chest wall","coding":[' ||
           |  CASE WHEN ln % 3 = 0 THEN '{"system":"http://purl.obolibrary.org/obo/uberon.owl","code":"UBERON:00' || pk || '"},'
           |       WHEN ln % 3 = 1 THEN '{"system":"http://www.ebi.ac.uk/efo/efo.owl","code":"EFO:' || pk || '"},'
           |       ELSE '{"code":"bare-code"},' END ||
           |  '{"system":"http://purl.obolibrary.org/obo/ncit.owl","code":"NCIT:C' || (sk % 100) || '"}]}}}' AS resource_json
           |FROM b""".stripMargin))

  /** DRSDocumentReference bodies — fourth content-level JSON oracle
    * (drs_document_reference.py:163-412): regroup to one doc per
    * (study, file, seq-exp), Indexd-enriched attachment with size +
    * hash extensions, index-file type imputation (:246-254, tbi over
    * the two variations types ⇒ "… Index", which also suppresses
    * context.related :393-410 and has no type coding), acl-derived
    * security labels, dual category codings.
    *
    * Covers ALL keys: one output row per distinct (file key, seq-exp) —
    * duplicate lineitem pairs with two suppkeys fan the regroup into
    * two seq-exp rows sharing a key (set-deterministic) — while the
    * per-(study,file) column aggregates are the builder's deterministic
    * per-column `min`s and the Indexd survivor is its (size DESC,
    * acl[0]) argmax, both replayed below.
    */
  private val kfDrsSlice = Q(
    "kf_drs_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.DrsBuilder.drsDocumentReference(
        result, Some(KfShaped.indexd(s, d)))
    },
    Some("""WITH pr AS (
           |  SELECT DISTINCT l_orderkey AS ok, l_linenumber AS ln, l_suppkey AS sk
           |  FROM lineitem),
           |g AS (
           |  SELECT l_orderkey AS gok, l_linenumber AS gln,
           |         min(CASE l_partkey % 5
           |           WHEN 0 THEN 'Aligned Reads' WHEN 1 THEN 'Variant Calls'
           |           WHEN 2 THEN 'gVCF' WHEN 3 THEN 'Simple Nucleotide Variations'
           |           ELSE 'Somatic Structural Variations' END) AS dt,
           |         min(CASE WHEN l_partkey % 5 >= 3 THEN 'tbi' ELSE 'cram' END) AS fmt
           |  FROM lineitem GROUP BY 1, 2),
           |ix AS (
           |  SELECT iok, iln, fsize, acl0 FROM (
           |    SELECT l_orderkey AS iok, l_linenumber AS iln,
           |           CAST(trunc(l_extendedprice * 100) AS BIGINT) AS fsize,
           |           CASE WHEN l_orderkey % 3 = 0
           |             THEN 'phs00000' || (l_suppkey % 5) || '.c1' ELSE 'nocode' END AS acl0,
           |           row_number() OVER (PARTITION BY l_orderkey, l_linenumber
           |             ORDER BY CAST(trunc(l_extendedprice * 100) AS BIGINT) DESC,
           |               CASE WHEN l_orderkey % 3 = 0
           |                 THEN 'phs00000' || (l_suppkey % 5) || '.c1' ELSE 'nocode' END) AS rn
           |    FROM lineitem) WHERE rn = 1),
           |b AS (
           |  SELECT pr.ok, pr.ln, pr.sk, g.dt, g.fmt, ix.fsize, ix.acl0,
           |         o.o_custkey AS ck, n.n_regionkey AS rk,
           |         pr.ok || '_' || pr.ln AS k,
           |         (g.dt IN ('Simple Nucleotide Variations', 'Somatic Structural Variations')
           |           AND g.fmt = 'tbi') AS imputed
           |  FROM pr
           |  JOIN g ON pr.ok = g.gok AND pr.ln = g.gln
           |  JOIN ix ON pr.ok = ix.iok AND pr.ln = ix.iln
           |  JOIN orders o ON pr.ok = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN nation n ON c.c_nationkey = n.n_nationkey)
           |SELECT 'GF_' || k AS key, 'DocumentReference' AS resource_type,
           |  '{"resourceType":"DocumentReference","id":"' || md5('DocumentReference/GF_' || k) ||
           |  '","meta":{"profile":["https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/drs-document-reference"],"tag":[{"code":"SD_' || rk ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/genomic-files/","value":"GF_' || k ||
           |  '"}],"status":"current","docStatus":"final","type":' ||
           |  CASE WHEN imputed THEN '{"text":"' || dt || ' Index"}'
           |  ELSE CASE dt
           |    WHEN 'Aligned Reads' THEN '{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_types","code":"Aligned-Reads","display":"Aligned Reads"}],"text":"Aligned Reads"}'
           |    WHEN 'Variant Calls' THEN '{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_types","code":"Variant-Calls","display":"Variant Calls"}],"text":"Variant Calls"}'
           |    WHEN 'gVCF' THEN '{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_types","code":"gVCF","display":"gVCF"}],"text":"gVCF"}'
           |    WHEN 'Simple Nucleotide Variations' THEN '{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_types","code":"Simple-Nucleotide-Variations","display":"Simple Nucleotide Variations"}],"text":"Simple Nucleotide Variations"}'
           |    ELSE '{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_types","code":"Somatic-Structural-Variations","display":"Somatic Structural Variations"}],"text":"Somatic Structural Variations"}' END END ||
           |  ',"category":' ||
           |  CASE WHEN sk % 2 = 0
           |    THEN '[{"coding":[{"system":"https://includedcc.org/fhir/code-systems/experimental_strategies","code":"WGS","display":"Whole Genome Sequencing"}],"text":"WGS"},{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_categories","code":"Genomics","display":"Genomics"}],"text":"WGS"}]'
           |    ELSE '[{"coding":[{"system":"https://includedcc.org/fhir/code-systems/experimental_strategies","code":"RNA-Seq","display":"RNA-Seq"}],"text":"RNA-Seq"},{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_categories","code":"Transcriptomics","display":"Transcriptomics"}],"text":"RNA-Seq"}]' END ||
           |  ',"subject":{"reference":"Patient/' || md5('Patient/PT_' || ck) ||
           |  '"},"securityLabel":[' ||
           |  CASE WHEN ok % 2 = 0
           |    THEN '{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_access_types","code":"controlled","display":"Controlled"}],"text":"True"}'
           |    ELSE '{"coding":[{"system":"https://includedcc.org/fhir/code-systems/data_access_types","code":"registered","display":"Registered"}],"text":"False"}' END ||
           |  CASE WHEN ok % 3 = 0
           |    THEN ',{"coding":[{"code":"c1"}],"text":"' || acl0 || '"},{"text":"open"}'
           |    ELSE ',{"text":"nocode"}' END ||
           |  '],"content":[{"format":{"display":"' || fmt ||
           |  '"},"attachment":{"extension":[{"url":"https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/file-size","valueDecimal":' || fsize ||
           |  '},{"url":"https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/hashes","valueCodeableConcept":{"coding":[{"display":"md5"}],"text":"' || md5('content:' || k) ||
           |  '"}},{"url":"https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/hashes","valueCodeableConcept":{"coding":[{"display":"sha256"}],"text":"' || sha256('content:' || k) ||
           |  '"}}],"url":"drs://data.kidsfirstdrc.org/' || md5('did:' || k) ||
           |  '","title":"file_' || k || '.cram"}}]' ||
           |  CASE WHEN NOT imputed
           |    THEN ',"context":{"related":[{"reference":"Specimen/' || md5('Specimen/BS_' || k) || '"}]}'
           |    ELSE '' END ||
           |  '}' AS resource_json
           |FROM b""".stripMargin))

  /** Disease Condition bodies — fifth content-level JSON oracle
    * (disease.py:38-200): fixed clinicalStatus/category, affected-status
    * verification coding, three-ontology code block with sentinel
    * filtering (cleaned "Unknown" MONDO ids vanish), branchy bodySite
    * (uberon coding and/or tumor-location text, sentinel-nulled
    * "Not Reported" locations), and the relative-date _recordedDate that
    * the reference's bare `int()` try/except silently omits on the
    * "bogus" ages. Orders keys are unique, so no ambiguity filter is
    * needed; phantom-key rows (via biospecimen-diagnoses) are a Pipeline
    * concern pinned by kf_counts_by_type, not replayed here.
    */
  private val kfDiseaseSlice = Q(
    "kf_disease_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.ConditionBuilders.disease(
        result.slice(Set("studies", "participants", "diagnoses")))
    },
    Some("""WITH b AS (
           |  SELECT o.o_orderkey AS ok, o.o_custkey AS ck, n.n_regionkey AS rk,
           |         o.o_orderpriority AS prio
           |  FROM orders o
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN nation n ON c.c_nationkey = n.n_nationkey)
           |SELECT 'DG_' || ok AS key, 'Condition' AS resource_type,
           |  '{"resourceType":"Condition","id":"' || md5('Condition/disease/DG_' || ok) ||
           |  '","meta":{"profile":["https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/disease"],"tag":[{"code":"SD_' || rk ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/diagnoses/","value":"DG_' || ok ||
           |  '"}],"clinicalStatus":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/condition-clinical","code":"active","display":"Active"}],"text":"Active"},' ||
           |  '"category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/condition-category","code":"encounter-diagnosis","display":"Encounter Diagnosis"}]}],' ||
           |  '"subject":{"reference":"Patient/' || md5('Patient/PT_' || ck) ||
           |  '"},"verificationStatus":{"coding":[' ||
           |  CASE WHEN ck % 3 = 0
           |    THEN '{"system":"http://terminology.hl7.org/CodeSystem/condition-ver-status","code":"confirmed","display":"Confirmed"}],"text":"True"}'
           |    ELSE '{"system":"http://terminology.hl7.org/CodeSystem/condition-ver-status","code":"refuted","display":"Refuted"}],"text":"False"}' END ||
           |  ',"code":{"coding":[' ||
           |  CASE WHEN ok % 3 = 0 THEN '{"system":"http://purl.obolibrary.org/obo/mondo.owl","code":"MONDO:00' || (ok % 100) || '"},' ELSE '' END ||
           |  '{"system":"https://www.who.int/classifications/classification-of-diseases","code":"C' || (ok % 90) ||
           |  '"},{"system":"http://purl.obolibrary.org/obo/ncit.owl","code":"NCIT:C' || (ok % 900) ||
           |  '"}],"text":"' || prio || '"},"bodySite":[{' ||
           |  CASE WHEN ok % 2 = 0 THEN '"coding":[{"system":"http://purl.obolibrary.org/obo/uberon.owl","code":"UBERON:00' || (ok % 100) || '"}]' ELSE '' END ||
           |  CASE WHEN ok % 4 = 0 THEN ''
           |       WHEN ok % 2 = 0 THEN ',"text":"Chest wall"'
           |       ELSE '"text":"Chest wall"' END ||
           |  '}]' ||
           |  CASE WHEN ok % 10 = 9 THEN ''
           |    ELSE ',"_recordedDate":{"extension":[{"extension":[{"url":"event","valueCodeableConcept":{"coding":[{"system":"http://snomed.info/sct","code":"3950001","display":"Birth"}]}},{"url":"relationship","valueCode":"after"},{"url":"offset","valueDuration":{"value":' || (ok % 5000) ||
           |         ',"unit":"day","system":"http://unitsofmeasure.org","code":"d"}}],"url":"http://hl7.org/fhir/StructureDefinition/relative-date"}]}' END ||
           |  '}' AS resource_json
           |FROM b""".stripMargin))

  /** Phenotype Condition bodies — sixth content-level JSON oracle
    * (phenotype.py:38-154): observed → verification coding, HPO +
    * sentinel-filtered SNOMED code block, relative-date _recordedDate.
    */
  private val kfPhenotypeSlice = Q(
    "kf_phenotype_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.ConditionBuilders.phenotype(
        result.slice(Set("studies", "participants", "phenotypes")))
    },
    Some("""WITH b AS (
           |  SELECT o.o_orderkey AS ok, o.o_custkey AS ck, n.n_regionkey AS rk,
           |         o.o_orderstatus AS st
           |  FROM orders o
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN nation n ON c.c_nationkey = n.n_nationkey
           |  WHERE o.o_orderkey % 3 = 0)
           |SELECT 'PH_' || ok AS key, 'Condition' AS resource_type,
           |  '{"resourceType":"Condition","id":"' || md5('Condition/phenotype/PH_' || ok) ||
           |  '","meta":{"profile":["https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/phenotype"],"tag":[{"code":"SD_' || rk ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/phenotypes/","value":"PH_' || ok ||
           |  '"}],"subject":{"reference":"Patient/' || md5('Patient/PT_' || ck) ||
           |  '"},"verificationStatus":{"coding":[' ||
           |  CASE WHEN ok % 2 = 0
           |    THEN '{"system":"http://terminology.hl7.org/CodeSystem/condition-ver-status","code":"confirmed","display":"Confirmed"}],"text":"Positive"}'
           |    ELSE '{"system":"http://terminology.hl7.org/CodeSystem/condition-ver-status","code":"refuted","display":"Refuted"}],"text":"Negative"}' END ||
           |  ',"code":{"coding":[{"system":"http://purl.obolibrary.org/obo/hp.owl","code":"HP:000' || (ok % 1000) || '"}' ||
           |  CASE WHEN ok % 6 = 0 THEN ',{"system":"http://snomed.info/sct","code":"1234' || (ok % 10) || '"}' ELSE '' END ||
           |  '],"text":"' || st ||
           |  '"},"_recordedDate":{"extension":[{"extension":[{"url":"event","valueCodeableConcept":{"coding":[{"system":"http://snomed.info/sct","code":"3950001","display":"Birth"}]}},{"url":"relationship","valueCode":"after"},{"url":"offset","valueDuration":{"value":' || (ok % 6000) ||
           |  ',"unit":"day","system":"http://unitsofmeasure.org","code":"d"}}],"url":"http://hl7.org/fhir/StructureDefinition/relative-date"}]}}' AS resource_json
           |FROM b""".stripMargin))

  /** Histopathology Observation bodies — seventh content-level JSON
    * oracle (histopathology.py:28-126): the dual-ancestor link resource
    * (subject → patient, focus → disease Condition, specimen →
    * Specimen) with its OWN sentinel set for the tumor descriptor; the
    * global clean already nulls "N/A" descriptors upstream. Covers ALL
    * keys: duplicate lineitem rows are column-identical here.
    */
  private val kfHistoSlice = Q(
    "kf_histo_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.ConditionBuilders.histopathology(
        result.slice(Set("studies", "participants", "diagnoses",
          "biospecimen-diagnoses", "biospecimens")))
    },
    // ALL keys: duplicate (orderkey, linenumber) rows carry identical
    // histo columns (every field derives from ok/ln alone), so the
    // builder's dedup is content-deterministic — DISTINCT base keys
    Some("""WITH hb AS (
           |  SELECT DISTINCT l_orderkey AS dok, l_linenumber AS dln FROM lineitem),
           |b AS (
           |  SELECT hb.dok AS ok, hb.dln AS ln,
           |         o.o_custkey AS ck, n.n_regionkey AS rk,
           |         hb.dok || '_' || hb.dln AS k
           |  FROM hb
           |  JOIN orders o ON hb.dok = o.o_orderkey
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN nation n ON c.c_nationkey = n.n_nationkey)
           |SELECT 'BD_' || k AS key, 'Observation' AS resource_type,
           |  '{"resourceType":"Observation","id":"' || md5('Observation/histo/BD_' || k) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/Observation"],"tag":[{"code":"SD_' || rk ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/biospecimen-diagnoses/","value":"BD_' || k ||
           |  '"}],"status":"final","category":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/observation-category","code":"laboratory","display":"Laboratory"}],"text":"Histopathology"}],' ||
           |  '"code":{"coding":[{"system":"http://snomed.info/sct","code":"250537006","display":"Histopathology finding (finding)"}],"text":"Histopathology"},' ||
           |  '"subject":{"reference":"Patient/' || md5('Patient/PT_' || ck) ||
           |  '"},"focus":[{"reference":"Condition/' || md5('Condition/disease/DG_' || ok) ||
           |  '"}],"specimen":{"reference":"Specimen/' || md5('Specimen/BS_' || k) || '"}' ||
           |  CASE WHEN ln % 2 = 0 THEN ',"valueCodeableConcept":{"text":"Primary"}' ELSE '' END ||
           |  '}' AS resource_json
           |FROM b""".stripMargin))

  /** VitalStatus Observation bodies — eighth content-level JSON oracle
    * (vital_status.py:16-94): SNOMED clinical-status code, relative-date
    * _effectiveDateTime, Alive/Deceased value coding.
    */
  private val kfVitalSlice = Q(
    "kf_vital_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.ParticipantBuilders.vitalStatus(
        result.slice(Set("studies", "participants", "outcomes")))
    },
    Some("""WITH b AS (
           |  SELECT o.o_orderkey AS ok, o.o_custkey AS ck, n.n_regionkey AS rk
           |  FROM orders o
           |  JOIN customer c ON o.o_custkey = c.c_custkey
           |  JOIN nation n ON c.c_nationkey = n.n_nationkey
           |  WHERE o.o_orderkey % 7 = 0)
           |SELECT 'OC_' || ok AS key, 'Observation' AS resource_type,
           |  '{"resourceType":"Observation","id":"' || md5('Observation/vital/OC_' || ok) ||
           |  '","meta":{"profile":["https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/vital-status"],"tag":[{"code":"SD_' || rk ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/outcomes/","value":"OC_' || ok ||
           |  '"}],"status":"final","code":{"coding":[{"system":"http://snomed.info/sct","code":"263493007","display":"Clinical status (attribute)"}],"text":"Clinical status"},' ||
           |  '"subject":{"reference":"Patient/' || md5('Patient/PT_' || ck) ||
           |  '"},"_effectiveDateTime":{"extension":[{"extension":[{"url":"event","valueCodeableConcept":{"coding":[{"system":"http://snomed.info/sct","code":"3950001","display":"Birth"}]}},{"url":"relationship","valueCode":"after"},{"url":"offset","valueDuration":{"value":' || (ok % 7000) ||
           |  ',"unit":"day","system":"http://unitsofmeasure.org","code":"d"}}],"url":"http://hl7.org/fhir/StructureDefinition/relative-date"}]},' ||
           |  '"valueCodeableConcept":' ||
           |  CASE WHEN ok % 2 = 0
           |    THEN '{"coding":[{"system":"http://snomed.info/sct","code":"438949009","display":"Alive (finding)"}],"text":"Alive"}'
           |    ELSE '{"coding":[{"system":"http://snomed.info/sct","code":"419099009","display":"Dead (finding)"}],"text":"Deceased"}' END ||
           |  '}' AS resource_json
           |FROM b""".stripMargin))

  /** Family Group bodies — ninth content-level JSON oracle
    * (family.py:22-130): the A1 regroup per (study, family) with sorted
    * member reference structs, species-driven group type, quantity, and
    * the secondary external-id identifier. The member array is rebuilt
    * in DuckDB with a list comprehension over the lexicographically
    * sorted patient ids (matching sort_array on strings).
    */
  private val kfFamilySlice = Q(
    "kf_family_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.FhirBuilders.family(
        result.slice(Set("studies", "participants", "families")))
    },
    Some("""WITH fam AS (
           |  SELECT 'FM_' || c.c_nationkey AS fid, 'SD_' || n.n_regionkey AS sid,
           |         list_sort(list('PT_' || c.c_custkey)) AS members
           |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
           |  GROUP BY 1, 2)
           |SELECT fid AS key, 'Group' AS resource_type,
           |  '{"resourceType":"Group","id":"' || md5('Group/' || fid) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/Group"],"tag":[{"code":"' || sid ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/families/","value":"' || fid ||
           |  '"},{"use":"secondary","value":"fam-' || fid ||
           |  '"}],"type":"person","actual":true,"code":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-RoleCode","code":"FAMMEMB","display":"family member"}]},' ||
           |  '"quantity":' || len(members) || ',"member":[' ||
           |  array_to_string([
           |    '{"entity":{"reference":"Patient/' || md5('Patient/' || p) || '"},"inactive":false}'
           |    for p in members], ',') ||
           |  ']}' AS resource_json
           |FROM fam""".stripMargin))

  /** ResearchStudy bodies — content-level oracle #10
    * (research_study.py:33-125): dbGaP accession string surgery
    * (split + version suffix), SNOMED domain category, program/short-code
    * keywords, PI PractitionerRole reference. Phantom study keys are a
    * Pipeline concern (kf_counts_by_type); this pins the body.
    */
  private val kfStudySlice = Q(
    "kf_study_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.FhirBuilders.researchStudy(result.slice(Set("studies")))
    },
    Some("""SELECT 'SD_' || r_regionkey AS key, 'ResearchStudy' AS resource_type,
           |  '{"resourceType":"ResearchStudy","id":"' || md5('ResearchStudy/SD_' || r_regionkey) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/ResearchStudy"],"tag":[{"code":"SD_' || r_regionkey ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/studies/","value":"SD_' || r_regionkey ||
           |  '"},{"use":"secondary","system":"https://www.ncbi.nlm.nih.gov/projects/gap/cgi-bin/study.cgi?study_id=","value":"phs00000' || r_regionkey ||
           |  '.v1"}],"status":"completed","title":"' || r_name ||
           |  '","category":[{"text":"CANCER","coding":[{"system":"http://snomed.info/sct","code":"86049000","display":"Malignant neoplasm, primary (morphologic abnormality)"}]}],' ||
           |  '"keyword":[{"coding":[{"code":"Kids First"}]},{"coding":[{"code":"S' || r_regionkey ||
           |  '"}]}],"principalInvestigator":{"reference":"PractitionerRole/' || md5('PractitionerRole/IV_' || r_regionkey) || '"}}' AS resource_json
           |FROM region""".stripMargin))

  /** ProbandStatus Observation bodies — content-level oracle #11
    * (proband_status.py:30-99), incl. the deliberate Python-truthiness
    * quirk: the identifier value is boolean TRUE for any non-null
    * proband string, "False" included.
    */
  private val kfProbandSlice = Q(
    "kf_proband_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.ParticipantBuilders.probandStatus(
        result.slice(Set("studies", "participants")))
    },
    Some("""WITH p AS (
           |  SELECT c.c_custkey AS ck, n.n_regionkey AS rk
           |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey)
           |SELECT 'PT_' || ck AS key, 'Observation' AS resource_type,
           |  '{"resourceType":"Observation","id":"' || md5('Observation/proband/PT_' || ck) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/Observation"],"tag":[{"code":"SD_' || rk ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/participants?is_proband=","value":true}],' ||
           |  '"status":"final","code":{"coding":[{"system":"http://snomed.info/sct","code":"85900004","display":"Proband (finding)"}],"text":"Proband status"},' ||
           |  '"subject":{"reference":"Patient/' || md5('Patient/PT_' || ck) ||
           |  '"},"valueCodeableConcept":' ||
           |  CASE WHEN ck % 2 = 0
           |    THEN '{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v2-0136","code":"Y","display":"Yes"}],"text":"True"}'
           |    ELSE '{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v2-0136","code":"N","display":"No"}],"text":"False"}' END ||
           |  '}' AS resource_json
           |FROM p""".stripMargin))

  /** FamilyRelationship Observation bodies — content-level oracle #12
    * (family_relationship.py:310-404): v3-RoleCode relation coding with
    * text-only fallback for unmapped relations, and the study tag
    * derived per row from the participants table (the reference has it
    * ambient per study run).
    */
  private val kfFamRelSlice = Q(
    "kf_famrel_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      val sbp = result.steps.find(_.endpoint == "participants").map(_.df.select(
        col(s"`${graft.etl.Concepts.Participant.TargetServiceId}`"),
        col(s"`${graft.etl.Concepts.Study.TargetServiceId}`")))
      graft.documents.RelationshipBuilders.familyRelationship(
        result.familyRelationship.get, sbp)
    },
    Some("""WITH p AS (
           |  SELECT c.c_custkey AS ck, n.n_regionkey AS rk
           |  FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
           |  WHERE c.c_custkey % 2 = 1)
           |SELECT 'FR_' || ck AS key, 'Observation' AS resource_type,
           |  '{"resourceType":"Observation","id":"' || md5('Observation/famrel/FR_' || ck) ||
           |  '","meta":{"profile":["https://nih-ncpi.github.io/ncpi-fhir-ig/StructureDefinition/family-relationship"],"tag":[{"code":"SD_' || rk ||
           |  '"}]},"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/family-relationships/","value":"FR_' || ck ||
           |  '"},{"use":"secondary","value":"fr-' || ck ||
           |  '"}],"status":"final","code":{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-RoleCode","code":"FAMMEMB","display":"family member"}],"text":"Family Relationship"},' ||
           |  '"subject":{"reference":"Patient/' || md5('Patient/PT_' || ck) ||
           |  '"},"focus":[{"reference":"Patient/' || md5('Patient/PT_' || (ck - 1)) ||
           |  '"}],"valueCodeableConcept":' ||
           |  CASE CAST(ck % 5 AS INT)
           |    WHEN 0 THEN '{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-RoleCode","code":"MTH","display":"mother"}],"text":"Mother"}'
           |    WHEN 1 THEN '{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-RoleCode","code":"FTH","display":"father"}],"text":"Father"}'
           |    WHEN 2 THEN '{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-RoleCode","code":"SIB","display":"sibling"}],"text":"Sibling"}'
           |    WHEN 3 THEN '{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/v3-RoleCode","code":"PUNCLE","display":"paternal uncle"}],"text":"Paternal uncle"}'
           |    ELSE '{"text":"Some unmapped relation"}' END ||
           |  '}' AS resource_json
           |FROM p""".stripMargin))

  /** SequencingCenter Organization bodies — content-level oracle #13
    * (sequencing_center.py:12-69): injected display names present only
    * for known centers, no study tag on meta.
    */
  private val kfSeqCenterSlice = Q(
    "kf_seqcenter_slice",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.documents.ParticipantBuilders.sequencingCenter(
        result.slice(Set("biospecimens")),
        Map("SC_1" -> "Center One", "SC_2" -> "Center Two"))
    },
    Some("""SELECT 'SC_' || sk AS key, 'Organization' AS resource_type,
           |  '{"resourceType":"Organization","id":"' || md5('Organization/sc/SC_' || sk) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/Organization"]},' ||
           |  '"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/sequencing-centers/","value":"SC_' || sk || '"}]' ||
           |  CASE WHEN sk = 1 THEN ',"name":"Center One"'
           |       WHEN sk = 2 THEN ',"name":"Center Two"'
           |       ELSE '' END ||
           |  '}' AS resource_json
           |FROM (SELECT DISTINCT l_suppkey AS sk FROM lineitem)""".stripMargin))

  /** The investigator trio — content-level oracles #14-16
    * (practitioner.py:11-63, organization.py:11-53,
    * practitioner_role.py:15-82): no study tags, secondary external-id
    * identifiers, the role's practitioner/organization surrogate
    * references and researcher coding.
    */
  private def invSlice(s: SparkSession, d: String) = {
    val result = graft.etl.Transform(KfShaped.endpoints(s, d))
    result.slice(Set("studies", "investigators"))
  }

  private val kfPractitionerSlice = Q(
    "kf_practitioner_slice",
    (s, d) => graft.documents.InvestigatorBuilders.practitioner(invSlice(s, d)),
    Some("""SELECT 'IV_' || r_regionkey AS key, 'Practitioner' AS resource_type,
           |  '{"resourceType":"Practitioner","id":"' || md5('Practitioner/IV_' || r_regionkey) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/Practitioner"]},' ||
           |  '"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/investigators/","value":"IV_' || r_regionkey ||
           |  '"},{"use":"secondary","value":"inv-' || r_name ||
           |  '"}],"active":true,"name":[{"text":"PI of ' || r_name || '"}]}' AS resource_json
           |FROM region""".stripMargin))

  private val kfOrganizationSlice = Q(
    "kf_organization_slice",
    (s, d) => graft.documents.InvestigatorBuilders.organization(invSlice(s, d)),
    Some("""SELECT 'IV_' || r_regionkey AS key, 'Organization' AS resource_type,
           |  '{"resourceType":"Organization","id":"' || md5('Organization/IV_' || r_regionkey) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/Organization"]},' ||
           |  '"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/investigators/","value":"IV_' || r_regionkey ||
           |  '"}],"active":true,"name":"' || r_name || ' University"}' AS resource_json
           |FROM region""".stripMargin))

  private val kfPractRoleSlice = Q(
    "kf_practrole_slice",
    (s, d) => graft.documents.InvestigatorBuilders.practitionerRole(invSlice(s, d)),
    Some("""SELECT 'IV_' || r_regionkey AS key, 'PractitionerRole' AS resource_type,
           |  '{"resourceType":"PractitionerRole","id":"' || md5('PractitionerRole/IV_' || r_regionkey) ||
           |  '","meta":{"profile":["http://hl7.org/fhir/StructureDefinition/PractitionerRole"]},' ||
           |  '"identifier":[{"use":"official","system":"https://kf-api-dataservice.kidsfirstdrc.org/investigators/","value":"IV_' || r_regionkey ||
           |  '"},{"use":"secondary","value":"inv-' || r_name ||
           |  '"}],"active":true,"practitioner":{"reference":"Practitioner/' || md5('Practitioner/IV_' || r_regionkey) ||
           |  '"},"organization":{"reference":"Organization/' || md5('Organization/IV_' || r_regionkey) ||
           |  '"},"code":[{"coding":[{"system":"http://terminology.hl7.org/CodeSystem/practitioner-role","code":"researcher","display":"Researcher"}]}]}' AS resource_json
           |FROM region""".stripMargin))

  /** The COMPLETE reference pipeline: 14 KF-shaped endpoint tables →
    * presence-driven transform → all 16 entity builders (incl. the
    * bulk-prefetched Indexd dimension replacing per-row REST) → one
    * DataFrame of FHIR resources. The headline ETL benchmark.
    */
  private val kfFullPipeline = Q(
    "kf_full_pipeline",
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.etl.Pipeline.buildAllUnion(result,
        indexd = Some(KfShaped.indexd(s, d)),
        centerNames = Map("SC_1" -> "Center One", "SC_2" -> "Center Two"))
    },
    // content-level oracle for the COMPLETE pipeline: the 16 per-builder
    // slice oracles (each already byte-exact over ALL keys) UNION ALL'd
    // with the builder tag buildAllUnion stamps on each part. Valid
    // because each pipeline slice equals the corresponding battery
    // slice (same required-table set) and the key-universe phantom sets
    // are empty in the test data (no orphan FKs — kf_counts_by_type
    // pins that equivalence at the cardinality level).
    Some(Seq(
      "practitioner" -> kfPractitionerSlice,
      "organization" -> kfOrganizationSlice,
      "practitioner_role" -> kfPractRoleSlice,
      "patient" -> kfPatientSlice,
      "proband_status" -> kfProbandSlice,
      "family_relationship" -> kfFamRelSlice,
      "family" -> kfFamilySlice,
      "research_study" -> kfStudySlice,
      "research_subject" -> kfRSubjectSlice,
      "disease" -> kfDiseaseSlice,
      "phenotype" -> kfPhenotypeSlice,
      "vital_status" -> kfVitalSlice,
      "sequencing_center" -> kfSeqCenterSlice,
      "specimen" -> kfSpecimenSlice,
      "histopathology" -> kfHistoSlice,
      "drs_document_reference" -> kfDrsSlice)
      .map { case (tag, q) =>
        s"SELECT key, resource_type, resource_json, '$tag' AS builder FROM (\n${q.oracle.get}\n)"
      }
      .mkString("\nUNION ALL\n")))

  /** The flagship's hash-checked face: per-builder output cardinalities
    * of the COMPLETE pipeline, against an oracle that re-derives each
    * builder's natural-key count straight from the TPC-H tables (one
    * Practitioner per investigator=region, one Patient per participant
    * key incl. orphan-FK phantoms, one Specimen per distinct
    * biospecimen key, one DocumentReference per (study, file, seq-exp)
    * group, …). This pins the chain's fan-out/dedup/phantom semantics —
    * the part of the reference most easily broken by a join-order or
    * null-policy regression — without having to hash JSON bodies.
    */
  private val kfCountsByType = Q(
    "kf_counts_by_type",
    // Recomputes the union kf_full_pipeline just built — measured
    // (sf0.1; perfbench --trace 1 reports the per-builder split): independent plans 17.5 s + 7.4 s = 24.9 s vs
    // persist-once-serve-both 29.8 s + 3.0 s = 32.9 s. Caching the wide
    // string-heavy union costs MORE than replaying the pruned codegen'd
    // plan (the counts plan never builds resource_json at all), the same
    // result as the slice-persist measurement at Pipeline.scala — so the
    // two queries deliberately stay independent.
    (s, d) => {
      val result = graft.etl.Transform(KfShaped.endpoints(s, d))
      graft.etl.Pipeline.buildAllUnion(result,
        indexd = Some(KfShaped.indexd(s, d)),
        centerNames = Map("SC_1" -> "Center One", "SC_2" -> "Center Two"))
        .groupBy(col("builder")).agg(count(lit(1)).as("n"))
    },
    Some("""SELECT 'practitioner' AS builder, count(*) AS n FROM region
           |UNION ALL SELECT 'organization', count(*) FROM region
           |UNION ALL SELECT 'practitioner_role', count(*) FROM region
           |UNION ALL SELECT 'research_study', count(*) FROM region
           |UNION ALL SELECT 'patient', count(*) FROM customer
           |UNION ALL SELECT 'proband_status', count(*) FROM customer
           |UNION ALL SELECT 'research_subject', count(*) FROM customer
           |UNION ALL SELECT 'family', count(DISTINCT c_nationkey) FROM customer
           |UNION ALL SELECT 'family_relationship', count(*) FROM customer WHERE c_custkey % 2 = 1
           |UNION ALL SELECT 'disease', count(*) FROM orders
           |UNION ALL SELECT 'phenotype', count(*) FROM orders WHERE o_orderkey % 3 = 0
           |UNION ALL SELECT 'vital_status', count(*) FROM orders WHERE o_orderkey % 7 = 0
           |UNION ALL SELECT 'sequencing_center', count(DISTINCT l_suppkey) FROM lineitem
           |UNION ALL SELECT 'specimen', count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
           |UNION ALL SELECT 'histopathology', count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
           |UNION ALL SELECT 'drs_document_reference',
           |  count(DISTINCT (l_orderkey, l_linenumber, l_suppkey)) FROM lineitem""".stripMargin))

  // ---------------------------------------------------------------- export

  val all: Seq[Q] = Seq(
    s1PointScan, s3Crawl, p2Rename, p6Clean, p8HashSample, p9ColumnProfile,
    j1Outer, jChain, j8Composite, jNullKey, j13Codes, j14Asof, j15Range,
    j16NullSafe, j17Anti, j18BloomPruned, j19Scd2Merge, j20CdcApply,
    j21TableDiff, j22IncrementalAgg,
    a1Collect, a2Collect, a5Dedup, a6Rollup, a7Cube, a13GroupingSets,
    a8ApproxDistinct,
    a11Percentile, a12ApproxPercentile, a14WindowedPercentile, a15CorrCovar,
    q1Agg, q3Sql,
    w1Window, w2Analytic, w3TopKPerGroup, w4RangeFrame, a9Pivot, a10Unpivot,
    topK, setOps,
    f6Datetime, g1DateSpine, g2Sessionize, g3LocfFill, g4Pagerank,
    g5TriangleCount, g6Funnel, g7Retention, g8Transitions,
    g9SessionPaths, g10Streaks, g11Ewma,
    g12Interpolate, g13Cooccurrence, g14Twap, g15PeakConcurrency,
    g16IntervalUnion, g17BfsHops, g18Attribution,
    a16MadOutliers, a17HllRollup, a18EquiDepthBins, a18bEquiDepthApprox,
    a19Auc, a20PrThresholds,
    a21HllIntersect, g19PersonalizedPagerank,
    fScalar, f5Cast, f9MapExplode, f12Json, f13ArrayOps,
    twTumbling, twWindowedTopK, twSliding, twSession, twChainedWindows,
    twDedupWatermark, twDedupLateBoundary, twJoinBound, twJoinBoundLeft,
    twJoinBoundFull, twJoinBoundSemi, twJoinBoundRight,
    stUserTotals, stUserTotalsV2, stTypeCounts, stLastEvents,
    stSessionTimeout, stWarmStart, stCdcLatest, stWindowedTopK,
    x23BpeTokenFreq, x24BpeCompression,
    x6SubwordCount,
    d1DedupExact, x1TextStats, n1AnnTopK, m1Multimodal, m2MultimodalDecode,
    m3FrameSample, m3bImageFrames, m4WavDecode, m5BmpDecode, m6Resize,
    m6bResizeBilinear, m7VideoResize, m8AudioResample,
    m9PngDecode, m10PngResize, m11ImageNearDup, m12IncrementalImageNearDup,
    m13FlacDecode, m14FlacStereo, m15ImageTombstones,
    d2MinhashBands, d2bNearDupPairs, d3Simhash, d7SimhashPairs, d4NgramJaccard,
    d5DedupClusters, d6DedupCorpus, d8DupSpans, d9DupSpanCut,
    d10EditDistance,
    x2LangId, x3Fingerprint, x3bRolling, x4Quality, x5TokenFreq,
    x7Repetition, x8Decontaminate, x9PackSequences, x9bPackBpe, x10Redact,
    x22BpeEncode,
    x11StratifiedSample, x12RareTokens, x13HeavyHitters, x14DomainCap,
    x15BigramCounts, x16TopDistinctTerm, x17EpochShuffle, x18LengthBuckets,
    x19TokenChunks, x20TemperatureMixture, x21BloomDecontaminate,
    x25LmScore, x26DsirScore, x27SlidingChunks, x28PmiCollocations,
    x29LeakageSplits, x30Bm25, x31BpeTrain, x32ByteBpeCount, x33RrfFusion,
    x34KAnonymity, x35HtmlExtract, c1Curation, c2Incremental,
    c3Report, c4Takedown, c5CuratedAsOf, stIncrementalCuration,
    stCurateThenIndex,
    n2AnnLsh, n3EmbNearDup, n4AnnIvf, n5PqQuantize, n6KmeansFit, n7SemanticDedup,
    n8SqQuantize, n9BinaryQuantize, n10MmrRerank, n11IncrementalSemDedup,
    n12IncrementalIvf, n13ReindexedIvf, n14IvfTombstones,
    n15GenerationCutover,
    x36IncrementalBm25, x37Bm25Tombstones, stStreamedDeletion, x38BmTtl,
    x39BmAsOf, x40BmAsOfAligned, x41BmAsOfHistory,
    kfPatientSlice, kfRSubjectSlice, kfSpecimenSlice, kfDrsSlice,
    kfDiseaseSlice, kfPhenotypeSlice, kfHistoSlice, kfVitalSlice,
    kfFamilySlice, kfStudySlice, kfProbandSlice, kfFamRelSlice,
    kfSeqCenterSlice, kfPractitionerSlice, kfOrganizationSlice,
    kfPractRoleSlice, kfFullPipeline, kfCountsByType)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
