package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{AlignHow, ColUniverse, SparseRel}
import graft.sources.SparseIO

/** One declared operator query: the Spark implementation plus (where
  * ANSI-SQL-expressible) the DuckDB oracle the driver hash-compares
  * against. Column names/types must match the oracle exactly — every
  * computed column is aliased identically on both sides, and oracle
  * doubles are CAST explicitly (DuckDB's SUM(DECIMAL) would otherwise
  * produce a different result type than Spark's DOUBLE). The oracle is
  * a function of the [[Golden.Store]] its SQL may replay trained state
  * from; only the six queries declared with `replaying` read it. */
final class QueryDef private (
    val name: String,
    val fn: (SparkSession, String) => DataFrame,
    val oracle: Golden.Store => Option[String])

object QueryDef {
  def apply(name: String, fn: (SparkSession, String) => DataFrame,
      oracle: Option[String]): QueryDef = new QueryDef(name, fn, _ => oracle)

  /** A query whose oracle replays trained state from the golden store. */
  def replaying(name: String, fn: (SparkSession, String) => DataFrame)(
      oracle: Golden.Store => String): QueryDef =
    new QueryDef(name, fn, g => Some(oracle(g)))
}

/** The reference-surface operator queries (SURVEY §2), each built on
  * [[SparseRel]] over the driver test tables and paired with its ANSI
  * oracle. These are the rows of CORRECTNESS_r{N}.json. */
object CoreQueries {
  import SparseRel.{COL, VALUE}

  private def events(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)

  /** Roundtrip scratch dirs are per-process (race-free) but must not
    * accumulate across bench/verify runs (r17 ADVICE): register ONE
    * shutdown hook per distinct path that deletes the tree at JVM
    * exit — the read-back DataFrame is lazy, so an inline delete
    * would race the scan. */
  private val cleanupRegistered =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private def deleteOnExit(f: java.io.File): java.io.File = {
    if (cleanupRegistered.add(f.getAbsolutePath)) {
      Runtime.getRuntime.addShutdownHook(new Thread(() => {
        def rm(x: java.io.File): Unit = {
          val kids = x.listFiles()
          if (kids != null) kids.foreach(rm)
          x.delete(): Unit
        }
        rm(f)
      }))
    }
    f
  }

  /** The canonical COO frame: events one-hot by event_type, keyed by
    * user_id (reference flagship construction, SURVEY §7.1). */
  private def cooUser(s: SparkSession, dir: String): SparseRel =
    SparseRel.scanEvents(events(s, dir), "event_type",
      Seq("user_id"), Some(Tables.EventTypes))

  /** Canonical grouped frame: one cell per (user, event_type) = count. */
  private def grouped(s: SparkSession, dir: String): SparseRel =
    cooUser(s, dir).groupbySum()

  /** Even/odd halves of the event log, grouped per user — overlapping
    * user sets, for the alignment-op queries (FIXTURES.md §B). */
  private def half(s: SparkSession, dir: String, even: Boolean,
      prefix: String = ""): SparseRel = {
    val parity = if (even) 0 else 1
    val cells = events(s, dir)
      .filter(col("event_id") % 2 === parity)
      .select(col("user_id"),
        concat(lit(prefix), col("event_type")).as(COL),
        lit(1.0).as(VALUE))
    SparseRel(cells, Seq("user_id"),
      ColUniverse.Explicit(Tables.EventTypes.map(prefix + _))).groupbySum()
  }

  private val GROUPED_SQL =
    """SELECT user_id, event_type AS col, CAST(SUM(1.0) AS DOUBLE) AS value
      |FROM events GROUP BY user_id, event_type""".stripMargin

  private def halfSql(parity: Int, prefix: String): String =
    s"""SELECT user_id, '$prefix' || event_type AS col,
       |CAST(SUM(1.0) AS DOUBLE) AS value
       |FROM events WHERE event_id % 2 = $parity
       |GROUP BY user_id, event_type""".stripMargin

  val all: Seq[QueryDef] = Seq(

    // ---------------- scans / construction (§2.1, §2.5) ----------------

    QueryDef("scan_events_onehot",
      (s, dir) => SparseRel.scanEvents(events(s, dir),
        "event_type", Seq("user_id", "ts"), None).df,
      Some("""SELECT user_id, ts, event_type AS col,
             |CAST(1.0 AS DOUBLE) AS value FROM events""".stripMargin)),

    QueryDef("one_hot",
      (s, dir) => SparseRel.oneHot(events(s, dir), "event_type",
        Tables.EventTypesPlusZero, Seq("event_id")).df,
      Some("""SELECT event_id, event_type AS col,
             |CAST(1.0 AS DOUBLE) AS value FROM events""".stripMargin)),

    QueryDef("from_dense_melt",
      (s, dir) => SparseRel.fromDense(Tables.lineitem(s, dir),
        Seq("l_orderkey", "l_linenumber"),
        Seq("l_quantity", "l_discount")).df,
      Some("""SELECT l_orderkey, l_linenumber, 'l_quantity' AS col,
             |CAST(l_quantity AS DOUBLE) AS value FROM lineitem
             |WHERE l_quantity IS NOT NULL AND l_quantity <> 0
             |UNION ALL
             |SELECT l_orderkey, l_linenumber, 'l_discount' AS col,
             |CAST(l_discount AS DOUBLE) AS value FROM lineitem
             |WHERE l_discount IS NOT NULL AND l_discount <> 0""".stripMargin)),

    QueryDef("io_roundtrip",
      (s, dir) => {
        val sfTag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        // relative to the checkout + per-process: portable across
        // working copies, and concurrent sessions cannot race on it
        val path = deleteOnExit(new java.io.File("target/io_roundtrip",
          sfTag + "_" + ProcessHandle.current().pid())).getAbsolutePath
        SparseIO.write(grouped(s, dir), path, rangePartitions = 8)
        SparseIO.read(s, path).df
      },
      Some(GROUPED_SQL)),

    // scipy-npz interchange (reference io.py:28-39 to_npz/read_npz):
    // the canonical grouped frame out through the byte-level npy/zip
    // writer and back — the migration shim's round trip must be
    // value-lossless, so it shares io_roundtrip's oracle. Driver-side
    // by design (like the reference's own in-memory implementation);
    // the at-scale interchange stays SparseIO's partitioned parquet.
    // multi-archive npz stack: the EXPORT direction of the dask-layer
    // glob surface (readNpzGlob / reference read_npz(glob, sorted)) —
    // the grouped frame out through 4 contiguous-range archives and
    // back through the sorted glob read, divisions validated
    QueryDef("io_npz_stack_roundtrip",
      (s, dir) => {
        val sfTag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        val stackDir = deleteOnExit(new java.io.File("target/io_npz_stack",
          sfTag + "_" + ProcessHandle.current().pid()))
        graft.sources.Npz.writeNpzStack(grouped(s, dir),
          stackDir.getAbsolutePath, parts = 4)
        graft.sources.Npz.readNpzGlob(s,
          s"${stackDir.getAbsolutePath}/part-*.npz",
          indexCol = "user_id", sorted = true).df
      },
      Some(GROUPED_SQL)),

    QueryDef("io_npz_roundtrip",
      (s, dir) => {
        val sfTag = dir.replaceAll("[^A-Za-z0-9.]", "_")
        // relative to the checkout + per-process (r16 ADVICE): no
        // absolute-path tie, no frame.npz race between sessions
        val dirPath = deleteOnExit(new java.io.File("target/io_npz",
          sfTag + "_" + ProcessHandle.current().pid()))
        dirPath.mkdirs()
        val path = new java.io.File(dirPath, "frame.npz").getAbsolutePath
        graft.sources.Npz.writeNpz(grouped(s, dir), path)
        graft.sources.Npz.readNpz(s, path, indexCol = "user_id").df
      },
      Some(GROUPED_SQL)),

    // ---------------- aggregation (§2.4) ----------------

    QueryDef("groupby_sum",
      (s, dir) => grouped(s, dir).df,
      Some(GROUPED_SQL)),

    QueryDef("groupby_sum_level",
      (s, dir) => SparseRel.scanEvents(events(s, dir),
          "event_type", Seq("user_id", "ts"), Some(Tables.EventTypes))
        .groupbySumLevel(Seq("user_id")).df,
      Some(GROUPED_SQL)),

    QueryDef("groupby_sum_by",
      (s, dir) => cooUser(s, dir)
        .groupbySumBy(pmod(col("user_id"), lit(10)), "bucket").df,
      Some("""SELECT user_id % 10 AS bucket, event_type AS col,
             |CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events GROUP BY 1, 2""".stripMargin)),

    QueryDef("sum_axis0",
      (s, dir) => grouped(s, dir).sumAxis0,
      Some("""SELECT event_type AS col, CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("sum_axis1",
      (s, dir) => grouped(s, dir).sumAxis1,
      Some("""SELECT user_id, CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events GROUP BY 1""".stripMargin)),

    QueryDef("stats_sum_axis0",
      (s, dir) => grouped(s, dir).statsAxis0.select(
        col(COL),
        round(col("sum_val"), 6).as("sum_val"),
        round(col("mean_val"), 6).as("mean_val"),
        round(col("std_val"), 6).as("std_val"),
        round(col("max_val"), 6).as("max_val"),
        round(col("min_val"), 6).as("min_val")),
      Some("""WITH coo AS (SELECT user_id, event_type AS col,
             |  CAST(SUM(1.0) AS DOUBLE) AS value FROM events GROUP BY 1, 2),
             |n AS (SELECT CAST(COUNT(DISTINCT user_id) AS DOUBLE) AS n FROM events)
             |SELECT col,
             |  ROUND(SUM(value), 6) AS sum_val,
             |  ROUND(SUM(value) / MAX(n.n), 6) AS mean_val,
             |  ROUND(SQRT(GREATEST(SUM(value * value) / MAX(n.n)
             |    - POW(SUM(value) / MAX(n.n), 2), 0)), 6) AS std_val,
             |  ROUND(CASE WHEN COUNT(*) < MAX(n.n)
             |    THEN GREATEST(MAX(value), 0) ELSE MAX(value) END, 6) AS max_val,
             |  ROUND(CASE WHEN COUNT(*) < MAX(n.n)
             |    THEN LEAST(MIN(value), 0) ELSE MIN(value) END, 6) AS min_val
             |FROM coo CROSS JOIN n GROUP BY col""".stripMargin)),

    QueryDef("stats_sum_axis1",
      (s, dir) => grouped(s, dir).statsAxis1.select(
        col("user_id"),
        round(col("sum_val"), 6).as("sum_val"),
        round(col("mean_val"), 6).as("mean_val"),
        round(col("std_val"), 6).as("std_val"),
        round(col("max_val"), 6).as("max_val"),
        round(col("min_val"), 6).as("min_val")),
      // the universe (Tables.EventTypes) and the observed event_type
      // set coincide on the fixture, so COUNT(DISTINCT event_type) IS
      // the logical column count
      Some("""WITH coo AS (SELECT user_id, event_type AS col,
             |  CAST(SUM(1.0) AS DOUBLE) AS value FROM events GROUP BY 1, 2),
             |n AS (SELECT CAST(COUNT(DISTINCT event_type) AS DOUBLE) AS nc FROM events)
             |SELECT user_id,
             |  ROUND(SUM(value), 6) AS sum_val,
             |  ROUND(SUM(value) / MAX(n.nc), 6) AS mean_val,
             |  ROUND(SQRT(GREATEST(SUM(value * value) / MAX(n.nc)
             |    - POW(SUM(value) / MAX(n.nc), 2), 0)), 6) AS std_val,
             |  ROUND(CASE WHEN COUNT(*) < MAX(n.nc)
             |    THEN GREATEST(MAX(value), 0) ELSE MAX(value) END, 6) AS max_val,
             |  ROUND(CASE WHEN COUNT(*) < MAX(n.nc)
             |    THEN LEAST(MIN(value), 0) ELSE MIN(value) END, 6) AS min_val
             |FROM coo CROSS JOIN n GROUP BY user_id""".stripMargin)),

    QueryDef("nnz_count",
      (s, dir) => grouped(s, dir).df
        .filter(col(VALUE) =!= 0.0).agg(count(lit(1)).as("nnz")),
      Some("""SELECT COUNT(*) AS nnz FROM
             |(SELECT user_id, event_type FROM events GROUP BY 1, 2)""".stripMargin)),

    // ---------------- projections / filters (§2.2) ----------------

    QueryDef("project_cols",
      (s, dir) => grouped(s, dir).projectCols(Seq("click", "view")).df,
      Some("""SELECT user_id, event_type AS col, CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events WHERE event_type IN ('click', 'view')
             |GROUP BY user_id, event_type""".stripMargin)),

    // positional column take (reference take(idx, axis=1)): offsets
    // 0 and 2 of the 5-category lexicon = click, purchase
    QueryDef("take_cols_at",
      (s, dir) => grouped(s, dir).takeColsAt(Seq(0, 2)).df,
      Some("""SELECT user_id, event_type AS col, CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events WHERE event_type IN ('click', 'purchase')
             |GROUP BY user_id, event_type""".stripMargin)),

    QueryDef("loc_range",
      (s, dir) => grouped(s, dir)
        .locRange("user_id", lit(10), lit(60)).df,
      Some("""SELECT user_id, event_type AS col, CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events WHERE user_id BETWEEN 10 AND 60
             |GROUP BY user_id, event_type""".stripMargin)),

    QueryDef("loc_datetime_slice",
      (s, dir) => SparseRel.scanEvents(events(s, dir),
          "event_type", Seq("user_id", "ts"), Some(Tables.EventTypes))
        .locDateRange("ts", "2024-01-05", "2024-01-10").df,
      Some("""SELECT user_id, ts, event_type AS col, CAST(1.0 AS DOUBLE) AS value
             |FROM events
             |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00'
             |  AND ts < TIMESTAMP '2024-01-11 00:00:00'""".stripMargin)),

    QueryDef("loc_multi_slice",
      (s, dir) => SparseRel.scanEvents(events(s, dir),
          "event_type", Seq("user_id", "ts"), Some(Tables.EventTypes))
        .locRangeMulti(
          Seq(lit(5), to_timestamp(lit("2024-01-10 00:00:00"))),
          Seq(lit(10), to_timestamp(lit("2024-01-20 00:00:00")))).df,
      Some("""SELECT user_id, ts, event_type AS col, CAST(1.0 AS DOUBLE) AS value
             |FROM events
             |WHERE (user_id > 5 OR (user_id = 5 AND ts >= TIMESTAMP '2024-01-10 00:00:00'))
             |  AND (user_id < 10 OR (user_id = 10 AND ts <= TIMESTAMP '2024-01-20 00:00:00'))""".stripMargin)),

    QueryDef("take_rows",
      (s, dir) => grouped(s, dir).takeRows(50).df,
      Some("""SELECT e.user_id, e.event_type AS col,
             |CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events e
             |JOIN (SELECT DISTINCT user_id FROM events ORDER BY user_id LIMIT 50) k
             |USING (user_id)
             |GROUP BY e.user_id, e.event_type""".stripMargin)),

    QueryDef("take_rows_at",
      (s, dir) => grouped(s, dir)
        .takeRowsAt(Seq(0L, 3L, 7L, 25L, 49L, 80L)).df,
      Some("""WITH k AS (SELECT user_id,
             |  ROW_NUMBER() OVER (ORDER BY user_id) - 1 AS pos
             |  FROM (SELECT DISTINCT user_id FROM events))
             |SELECT e.user_id, e.event_type AS col,
             |CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events e
             |JOIN k USING (user_id)
             |WHERE k.pos IN (0, 3, 7, 25, 49, 80)
             |GROUP BY e.user_id, e.event_type""".stripMargin)),

    QueryDef("dropna_index",
      (s, dir) => grouped(s, dir).dropnaIndex().df,
      Some("""SELECT user_id, event_type AS col, CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events WHERE user_id IS NOT NULL
             |GROUP BY user_id, event_type""".stripMargin)),

    QueryDef("drop_dup_idx",
      (s, dir) => SparseRel.scanEvents(events(s, dir),
          "event_type", Seq("user_id", "event_id"), Some(Tables.EventTypes))
        .dropDupIdx(Seq("user_id"), Seq("event_id")).df,
      Some("""SELECT user_id, event_id, event_type AS col,
             |CAST(1.0 AS DOUBLE) AS value
             |FROM (SELECT user_id, event_id, event_type,
             |  ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id) AS rn
             |  FROM events)
             |WHERE rn = 1""".stripMargin)),

    QueryDef("rename_cols",
      (s, dir) => grouped(s, dir).renameCols("evt_" + _).df,
      Some("""SELECT user_id, 'evt_' || event_type AS col,
             |CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events GROUP BY user_id, event_type""".stripMargin)),

    QueryDef("set_index_col",
      (s, dir) => {
        val orders = Tables.orders(s, dir)
        SparseRel.fromDense(orders, Seq("o_orderkey"), Seq("o_totalprice"))
          .setIndexFrom(broadcast(orders.select(col("o_orderkey"), col("o_custkey"))),
            Seq("o_custkey"))
          .groupbySum()
          .df.select(col("o_custkey"), col(COL),
            round(col(VALUE), 2).as(VALUE))
      },
      Some("""SELECT o_custkey, 'o_totalprice' AS col,
             |ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS value
             |FROM orders WHERE o_totalprice IS NOT NULL AND o_totalprice <> 0
             |GROUP BY o_custkey""".stripMargin)),

    QueryDef("sort_index",
      (s, dir) => grouped(s, dir).sortIndex().df,
      Some(GROUPED_SQL)),

    // ---------------- alignment algebra (§2.3 / §2.6) ----------------

    QueryDef("join_axis1_outer",
      (s, dir) => half(s, dir, even = true, "a_")
        .joinAxis1(half(s, dir, even = false, "b_"), AlignHow.Outer).df,
      Some(s"""WITH a AS (${halfSql(0, "a_")}), b AS (${halfSql(1, "b_")})
              |SELECT * FROM a UNION ALL SELECT * FROM b""".stripMargin)),

    QueryDef("join_axis1_inner",
      (s, dir) => half(s, dir, even = true, "a_")
        .joinAxis1(half(s, dir, even = false, "b_"), AlignHow.Inner).df,
      Some(s"""WITH a AS (${halfSql(0, "a_")}), b AS (${halfSql(1, "b_")}),
              |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
              |k AS (SELECT DISTINCT user_id FROM a
              |      INTERSECT SELECT DISTINCT user_id FROM b)
              |SELECT u.* FROM u JOIN k USING (user_id)""".stripMargin)),

    QueryDef("join_axis1_left",
      (s, dir) => half(s, dir, even = true, "a_")
        .joinAxis1(half(s, dir, even = false, "b_"), AlignHow.Left).df,
      Some(s"""WITH a AS (${halfSql(0, "a_")}), b AS (${halfSql(1, "b_")})
              |SELECT * FROM a UNION ALL
              |SELECT b.* FROM b
              |JOIN (SELECT DISTINCT user_id FROM a) k USING (user_id)""".stripMargin)),

    // completes the reference's how matrix (sparse_frame.py:243-245:
    // outer/inner/left/right all legal) on the driver's hard gate —
    // right is left mirrored: all of b, plus a restricted to b's keys
    QueryDef("join_axis1_right",
      (s, dir) => half(s, dir, even = true, "a_")
        .joinAxis1(half(s, dir, even = false, "b_"), AlignHow.Right).df,
      Some(s"""WITH a AS (${halfSql(0, "a_")}), b AS (${halfSql(1, "b_")})
              |SELECT * FROM b UNION ALL
              |SELECT a.* FROM a
              |JOIN (SELECT DISTINCT user_id FROM b) k USING (user_id)""".stripMargin)),

    QueryDef("vstack_union",
      (s, dir) => half(s, dir, even = true)
        .vstack(half(s, dir, even = false)).df,
      Some(s"""WITH a AS (${halfSql(0, "")}), b AS (${halfSql(1, "")})
              |SELECT * FROM a UNION ALL SELECT * FROM b""".stripMargin)),

    // reference `concat` (sparse_frame.py:394-398): the n-ary fold of
    // vstack (axis 0) / joinAxis1 (axis 1) — declared with three
    // frames so the fold itself is exercised, not just one pairwise op
    QueryDef("concat_axis0",
      (s, dir) => SparseRel.concat(Seq(
          half(s, dir, even = true), half(s, dir, even = false),
          half(s, dir, even = true)), axis = 0).df,
      Some(s"""WITH a AS (${halfSql(0, "")}), b AS (${halfSql(1, "")})
              |SELECT * FROM a UNION ALL SELECT * FROM b
              |UNION ALL SELECT * FROM a""".stripMargin)),

    QueryDef("concat_axis1",
      (s, dir) => SparseRel.concat(Seq(
          half(s, dir, even = true, "a_"), half(s, dir, even = false, "b_"),
          half(s, dir, even = true, "c_")), axis = 1).df,
      Some(s"""WITH a AS (${halfSql(0, "a_")}), b AS (${halfSql(1, "b_")}),
              |c AS (${halfSql(0, "c_")})
              |SELECT * FROM a UNION ALL SELECT * FROM b
              |UNION ALL SELECT * FROM c""".stripMargin)),

    QueryDef("add_outer",
      (s, dir) => half(s, dir, even = true)
        .add(half(s, dir, even = false), AlignHow.Outer).df,
      Some(s"""WITH a AS (${halfSql(0, "")}), b AS (${halfSql(1, "")})
              |SELECT user_id, col, CAST(SUM(value) AS DOUBLE) AS value
              |FROM (SELECT * FROM a UNION ALL SELECT * FROM b)
              |GROUP BY user_id, col""".stripMargin)),

    QueryDef("add_inner",
      (s, dir) => half(s, dir, even = true)
        .add(half(s, dir, even = false), AlignHow.Inner).df,
      Some(s"""WITH a AS (${halfSql(0, "")}), b AS (${halfSql(1, "")}),
              |u AS (SELECT * FROM a UNION ALL SELECT * FROM b),
              |k AS (SELECT DISTINCT user_id FROM a
              |      INTERSECT SELECT DISTINCT user_id FROM b)
              |SELECT u.user_id, u.col, CAST(SUM(u.value) AS DOUBLE) AS value
              |FROM u JOIN k USING (user_id)
              |GROUP BY u.user_id, u.col""".stripMargin)),

    // ---------------- column maintenance (§2.5 R3) ----------------

    QueryDef("assign_scalar",
      (s, dir) => grouped(s, dir).assignScalar("bias", 1.0).df,
      Some("""SELECT user_id, event_type AS col, CAST(SUM(1.0) AS DOUBLE) AS value
             |FROM events GROUP BY user_id, event_type
             |UNION ALL
             |SELECT DISTINCT user_id, 'bias' AS col, CAST(1.0 AS DOUBLE) AS value
             |FROM events""".stripMargin)),

    // ---------------- materialization (§2.11) ----------------

    QueryDef("todense_pivot",
      (s, dir) => {
        // Universe includes a declared-but-unseen category: its all-zero
        // column must survive densification (test_sparse_frame.py:353-363).
        val rel = SparseRel(grouped(s, dir).df, Seq("user_id"),
          ColUniverse.Explicit(Tables.EventTypesPlusZero))
        rel.toDense
      },
      Some("""SELECT user_id,
             |CAST(COALESCE(SUM(CASE WHEN event_type = 'click' THEN 1.0 END), 0) AS DOUBLE) AS click,
             |CAST(COALESCE(SUM(CASE WHEN event_type = 'error' THEN 1.0 END), 0) AS DOUBLE) AS error,
             |CAST(COALESCE(SUM(CASE WHEN event_type = 'purchase' THEN 1.0 END), 0) AS DOUBLE) AS purchase,
             |CAST(COALESCE(SUM(CASE WHEN event_type = 'signup' THEN 1.0 END), 0) AS DOUBLE) AS signup,
             |CAST(COALESCE(SUM(CASE WHEN event_type = 'view' THEN 1.0 END), 0) AS DOUBLE) AS view,
             |CAST(0.0 AS DOUBLE) AS zz_declared_zero
             |FROM events GROUP BY user_id""".stripMargin)),

    // ---------------- relational sanity (star schema) ----------------

    QueryDef("q1_agg",
      (s, dir) => Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity")).as("sum_qty"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2)
            .as("revenue"),
          round(avg(col("l_discount")), 6).as("avg_disc"),
          count(lit(1)).as("cnt")),
      Some("""SELECT l_returnflag, l_linestatus,
             |CAST(SUM(l_quantity) AS DOUBLE) AS sum_qty,
             |ROUND(CAST(SUM(l_extendedprice * (1.0 - l_discount)) AS DOUBLE), 2) AS revenue,
             |ROUND(CAST(AVG(l_discount) AS DOUBLE), 6) AS avg_disc,
             |COUNT(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),

    QueryDef("price_quantiles",
      // spread the scan before the exact-percentile aggregate (r21):
      // the fixture's lineitem arrives as ONE scan split, so the
      // value-collecting partial aggregation (the dominant cost — it
      // buffers every row per group) ran on a single core. Hash on
      // l_orderkey (high-cardinality; the 3-value group key would
      // skew), partial buffers then build in parallel and merge in the
      // 3-group final agg. No-op at scale (Scale.spreadForKernel);
      // percentile's count-map buffer is order-independent, so the
      // result is bit-identical.
      (s, dir) => graft.operators.Scale.spreadForKernel(
          Tables.lineitem(s, dir), col("l_orderkey"))
        .groupBy(col("l_returnflag"))
        // ONE percentile aggregate with an array of targets, not
        // three: each percentile(col, p) call is its own aggregate
        // buffer collecting and sorting every value per group — the
        // array form shares one buffer and one sort for all three
        // interpolations (same values to the digit; measured ~2.5×
        // on the honest-forced bench row)
        .agg(
          percentile(col("l_extendedprice"),
            array(lit(0.25), lit(0.5), lit(0.75))).as("ps"),
          count(lit(1)).as("cnt"))
        .select(col("l_returnflag"),
          round(element_at(col("ps"), 1), 4).as("p25"),
          round(element_at(col("ps"), 2), 4).as("p50"),
          round(element_at(col("ps"), 3), 4).as("p75"),
          col("cnt")),
      Some("""SELECT l_returnflag,
             |ROUND(quantile_cont(l_extendedprice, 0.25), 4) AS p25,
             |ROUND(quantile_cont(l_extendedprice, 0.50), 4) AS p50,
             |ROUND(quantile_cont(l_extendedprice, 0.75), 4) AS p75,
             |COUNT(*) AS cnt
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QueryDef("price_quantiles_approx",
      (s, dir) => {
        // the 100 TB path: approx_percentile (GK sketch, bounded
        // memory, one pass) instead of exact percentile's full
        // per-group sort. The sketch output is implementation-defined,
        // so the driver-visible check is a certificate: every
        // approximate quantile must sit within the exact p10..p90
        // envelope around its target (far looser than the sketch's
        // actual rank error, so stable on any fixture)
        val li = Tables.lineitem(s, dir)
        li.groupBy(col("l_returnflag"))
          .agg(
            percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000))
              .as("ap50"),
            // one shared exact buffer for both envelope bounds (the
            // price_quantiles array-form optimization)
            percentile(col("l_extendedprice"),
              array(lit(0.4), lit(0.6))).as("env"))
          .select(col("l_returnflag"),
            (col("ap50") >= element_at(col("env"), 1) &&
              col("ap50") <= element_at(col("env"), 2))
              .as("within_bound"))
      },
      Some("""SELECT l_returnflag, TRUE AS within_bound
             |FROM lineitem GROUP BY l_returnflag""".stripMargin)),

    QueryDef("q3_join",
      (s, dir) => Tables.orders(s, dir)
        .join(broadcast(Tables.customer(s, dir)
          .filter(col("c_mktsegment") === "BUILDING")
          .select(col("c_custkey"))),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("o_orderpriority"))
        .agg(round(sum(col("o_totalprice")), 2).as("total"),
          count(lit(1)).as("cnt")),
      Some("""SELECT o_orderpriority,
             |ROUND(CAST(SUM(o_totalprice) AS DOUBLE), 2) AS total,
             |COUNT(*) AS cnt
             |FROM orders JOIN customer ON o_custkey = c_custkey
             |WHERE c_mktsegment = 'BUILDING'
             |GROUP BY o_orderpriority""".stripMargin))
  )
}
