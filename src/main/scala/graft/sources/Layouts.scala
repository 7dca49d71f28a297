package graft.sources

import graft.Exact.{money, one, rate}
import graft.{SessionResources, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Storage-layout operators: bucketed tables (co-located joins) and
  * partitioned writes (partition pruning).
  *
  * These are the two layout levers that matter most at 100 TB:
  *
  *  - **Bucketing** pre-shuffles both fact tables into the same hash
  *    buckets on the join key at write time, so every later join on
  *    that key runs with NO exchange — the single biggest cost in a
  *    fact⋈fact join. `PlanSpec` pins the exchange-free plan.
  *  - **Partitioned layout** (here by order year) turns time filters
  *    into directory pruning: the scan lists only matching partitions
  *    (`PartitionFilters` in the plan), reading nothing else.
  *
  * The written layouts are write-once artifacts in the warehouse, one
  * per data dir (`SessionResources.artifact`), built only when absent —
  * mirroring how a real warehouse writes once and queries many times.
  */
object Layouts {

  /** Write-once parquet layout under the warehouse: built on first
    * use, then only ever RE-READ — by this session and by any later
    * session that finds the files on disk (`_SUCCESS` present ⇒
    * re-attach, never rebuild). This is the materialized form of the
    * derived tables the dedup/ingest pipelines share (shingle index,
    * near-dup pair set, parsed events): at 100 TB these are ingest-time
    * layouts written once and queried many times, exactly like the
    * bucketed tables (`ensureBucketed`) — not session caches. A
    * half-written dir (no `_SUCCESS`, e.g. a killed build) is cleared
    * and rebuilt (`SessionResources.artifact`). Re-attach goes through
    * the session's relation memo (`Tables.parquet`); a rebuild
    * invalidates its entry.
    */
  private[graft] def ensureLayout(s: SparkSession, d: String, name: String,
      partitionCols: Seq[String] = Nil)(build: => DataFrame): DataFrame = {
    val loc = SessionResources.artifact(s, d, name) { dir =>
      val w = build.write.mode("overwrite")
      (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
        .parquet(dir.toString)
    }
    Tables.parquet(s, loc.toString)
  }

  /** The bucketed table `base` of data dir `d`: named after its
    * warehouse dir, `<base>_<key(d)>`, so data dirs never collide.
    */
  private[graft] def bucketedTable(s: SparkSession, d: String, base: String): String =
    SessionResources.artifactDir(s, d, base).getFileName.toString

  /** One-time bucketed write of orders + lineitem on the join key.
    * Tables land in the session's default warehouse (a static conf
    * that can't be changed post-session).
    */
  private def ensureBucketed(s: SparkSession, d: String): Unit = synchronized {
    def writeBucketed(base: String, df: => DataFrame, key: String): Unit = {
      val name = bucketedTable(s, d, base)
      if (!s.catalog.tableExists(name)) {
        // files may survive a previous session while the in-memory
        // catalog forgot the table: re-attach them as an external
        // bucketed table (write once, query in every later session)
        val loc = SessionResources.artifactDir(s, d, base)
        if (SessionResources.built(loc)) {
          s.sql(s"""CREATE TABLE $name (${df.schema.toDDL}) USING parquet
                   |CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS
                   |LOCATION '$loc'""".stripMargin)
        } else {
          Tables.deleteTree(loc)
          // external (explicit path): dropping the catalog entry never
          // deletes the data — the layout is a write-once warehouse
          // that later sessions re-attach to (branch above)
          df.write.bucketBy(8, key).sortBy(key)
            .option("path", loc.toString)
            .mode("overwrite").saveAsTable(name)
        }
      }
    }
    writeBucketed("orders_b", Tables.orders(s, d), "o_orderkey")
    writeBucketed("lineitem_b", Tables.lineitem(s, d), "l_orderkey")
  }

  /** Versioned (time-travel) layout — the Delta-log pattern in its
    * minimal honest form. Data files are IMMUTABLE; a version is a
    * manifest of (ver, add|remove, path) file actions; snapshot N =
    * fold of all actions with ver ≤ N (adds minus later removes).
    * Mutations never touch existing bytes: a delete REWRITES only the
    * affected files and logs remove+add actions, so every earlier
    * version stays readable forever — the snapshot-isolation /
    * reproducibility property a training-data warehouse needs ("which
    * corpus version did this run train on?"). At 100 TB the log is
    * metadata (thousands of rows per version, KB against TB of data):
    * the snapshot resolve reads ONLY the log, and the driver-side
    * collect is file paths, never data. Version fixture: v0 = full
    * orders partitioned by year; v1 = 1995's 'F' orders deleted via
    * copy-on-write of the 1995 files alone (the q_delete_rewrite
    * mutation, now with history retained).
    */
  private[graft] def ensureTimeTravel(s: SparkSession, d: String): String =
    SessionResources.artifact(s, d, "timetravel") { dir =>
      val base = Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
      base.write.partitionBy("o_year").parquet(s"$dir/v0")
      val v0 = s.read.parquet(s"$dir/v0")
        .select(input_file_name().as("path")).distinct()
      base.filter(col("o_year") === 1995 && col("o_orderstatus") =!= "F")
        .write.partitionBy("o_year").parquet(s"$dir/v1")
      val v1 = s.read.parquet(s"$dir/v1")
        .select(input_file_name().as("path")).distinct()
      v0.select(lit(0L).as("ver"), lit("add").as("action"), col("path"))
        .unionAll(v0.filter(col("path").contains("o_year=1995"))
          .select(lit(1L).as("ver"), lit("remove").as("action"), col("path")))
        .unionAll(v1.select(lit(1L).as("ver"), lit("add").as("action"),
          col("path")))
        .coalesce(1).write.parquet(s"$dir/_log")
    }.toString

  /** Read the layout as of version `ver`: live files = adds ≤ ver not
    * removed ≤ ver. Only the metadata log is collected; the data read
    * is a plain parquet scan of exactly the live files. NOTE:
    * `partitionBy("o_year")` strips the partition column from the
    * data files, and leaf-file reads do no directory inference — so
    * snapshots surface orders WITHOUT `o_year`; a consumer that needs
    * it must re-derive it (`year(o_orderdate)`, as q_time_travel and
    * TimeTravelSpec do).
    */
  private[graft] def snapshot(s: SparkSession, d: String, ver: Long): DataFrame = {
    val dir = ensureTimeTravel(s, d)
    val log = s.read.parquet(s"$dir/_log").filter(col("ver") <= ver)
    val live = log.filter(col("action") === "add").select("path")
      .except(log.filter(col("action") === "remove").select("path"))
      .collect().map(_.getString(0)).sorted
    s.read.parquet(live.toIndexedSeq: _*)
  }

  /** Zero-copy SHALLOW CLONE of the versioned layout's current
    * version (the Delta `CREATE TABLE ... SHALLOW CLONE` capability):
    * the clone is a NEW manifest whose add-actions point at the
    * SOURCE layout's immutable data files — no byte of data is
    * copied, the clone costs one kilobyte-scale metadata write
    * regardless of table size, and because source files are immutable
    * (mutations there copy-on-write new files), the clone stays
    * consistent forever. This is how a 100 TB experiment forks a
    * corpus: clone the manifest, mutate the fork's own log.
    */
  private[graft] def ensureClone(s: SparkSession, d: String): String = {
    val src = ensureTimeTravel(s, d)
    SessionResources.artifact(s, d, "ttclone") { dir =>
      val log = s.read.parquet(s"$src/_log").filter(col("ver") <= 1L)
      log.filter(col("action") === "add").select("path")
        .except(log.filter(col("action") === "remove").select("path"))
        .select(lit(0L).as("ver"), lit("add").as("action"), col("path"))
        .coalesce(1).write.parquet(s"$dir/_log")
    }.toString
  }

  /** Read the clone (its version 0 = the source's version 1). */
  private[graft] def cloneSnapshot(s: SparkSession, d: String): DataFrame = {
    val dir = ensureClone(s, d)
    val live = s.read.parquet(s"$dir/_log")
      .filter(col("action") === "add")
      .select("path").collect().map(_.getString(0)).sorted
    s.read.parquet(live.toIndexedSeq: _*)
  }

  private def ensurePartitioned(s: SparkSession, d: String): String =
    SessionResources.artifact(s, d, "orders_by_year") { dir =>
      Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").mode("overwrite").parquet(dir.toString)
    }.toString

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Co-located join on bucketed tables: zero exchange before the
    // sort-merge join (both sides pre-hashed into matching buckets).
    // Point GET through the bucketed layout — the sharpest Spark
    // analog of the reference's single-page hash-index get
    // (hashtable.rs:166-168 intends key → slot → one page read): the
    // equality predicate on the bucket key lets Spark's bucket
    // pruning read exactly ONE of the 8 bucket file groups
    // (PlanSpec pins `SelectedBucketsCount: 1 out of 8`), so the
    // lookup touches 1/8 of the table's files at any scale — plus
    // min/max row-group skipping inside that bucket. q_point_get is
    // the same semantics against the unbucketed table (full-scan +
    // pushed filter); this pair IS the reference's seq-scan-vs-index
    // trade, measurable. Fully oracled.
    "q_point_get_indexed" -> ((s, d) => {
      ensureBucketed(s, d)
      // bucketed scan + pruning is the point of this operator (1/8 of
      // the files at any scale); GraftSession.attach turns off the
      // autoBucketedScan rule that would drop it for a bare key filter
      s.table(bucketedTable(s, d, "orders_b"))
        .filter(col("o_orderkey") === 42)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderpriority"))
    }),

    "q_bucketed_join" -> ((s, d) => {
      ensureBucketed(s, d)
      val o = s.table(bucketedTable(s, d, "orders_b"))
      val l = s.table(bucketedTable(s, d, "lineitem_b"))
      o.join(l, o("o_orderkey") === l("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_items"),
          sum(money(col("l_extendedprice")) * (one - rate(col("l_discount"))))
            .cast("double").as("revenue"))
        .orderBy(col("o_orderstatus"))
    }),

    // Delete/compact: the Spark analog of the reference's record
    // deletion sketch (slot tombstone, reference src/page.rs:22
    // "Deleted (offset = 0)"). An immutable columnar store deletes by
    // REWRITING the affected partition without its tombstoned rows —
    // dynamic partition overwrite touches only that partition's
    // directory, so the rewrite cost is one partition, not the table.
    // A fresh scratch dir per invocation: the rewrite mutates its
    // layout, so it must never share with q_partition_pruning's.
    "q_delete_rewrite" -> ((s, d) => {
      val out = SessionResources.scratchDir(s, "delete_rewrite")
      val byYear = Tables.orders(s, d)
        .withColumn("o_year", year(col("o_orderdate")))
      byYear.write.partitionBy("o_year").mode("overwrite").parquet(out)
      // Delete 1995's 'F' orders: rewrite partition o_year=1995 from the
      // upstream minus the tombstoned rows. partitionOverwriteMode is
      // passed per-write, so dynamic semantics scope to THIS write —
      // later partitioned overwrites in the session keep static mode.
      byYear.filter(col("o_year") === 1995 && col("o_orderstatus") =!= "F")
        .write.partitionBy("o_year").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(out)
      s.read.parquet(out)
        .groupBy(col("o_year").cast("long").as("o_year"), col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.sumMoney(col("o_totalprice")).as("total"))
        .orderBy(col("o_year"), col("o_orderstatus"))
    }),

    // Partition-pruned scan: the year predicate prunes directories.
    "q_partition_pruning" -> ((s, d) => {
      val dir = ensurePartitioned(s, d)
      s.read.parquet(dir)
        .filter(col("o_year") === 1997)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.sumMoney(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderpriority"))
    }),

    // Small-file compaction: the ingest-hygiene pass every 100 TB
    // warehouse runs (Delta OPTIMIZE / Iceberg rewrite_data_files).
    // Streaming and per-batch ingest leave layouts fragmented into
    // files far below the row-group sweet spot; each file costs a
    // task, an open, and a footer read, so a million 1 MB files can
    // make a scan scheduler-bound. The pass rewrites the fragmented
    // layout into ceil(rows / CompactRowsPerFile) files, the file a
    // row lands in being a DETERMINISTIC md5 bucket of its key (the
    // shard-exporter discipline; range partitioning samples, so its
    // boundaries are not run-stable, and Spark's internal hash
    // partitioning is engine-private) — one shuffle of the data,
    // once, amortized over every later scan. Each bucket is written
    // by exactly one task (hash repartition on the bucket VALUE +
    // partitioned write), so files-on-disk == buckets and the whole
    // before/after file profile is a pure function of the table —
    // which is what lets the report carry a hard DuckDB oracle
    // (round 12). The target file count derives in the dataflow (a
    // broadcast 1-row aggregate, the shard-law pattern).
    // input_file_name() keeps the report honest — it counts REAL
    // files, and CompactionSpec additionally pins them against the
    // filesystem.
    "q_compact_files" -> ((s, d) => {
      def bucketOf(salt: String, n: Column): Column =
        pmod(conv(substring(md5(concat(col("l_orderkey").cast("string"),
          lit(salt)).cast("binary")), 1, 12), 16, 10).cast("long"), n)
      val frag = ensureLayout(s, d, "fragmented",
          partitionCols = Seq("bucket")) {
        Tables.lineitem(s, d)
          .select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
          .withColumn("bucket", bucketOf(":frag", lit(FragmentFiles.toLong)))
          .repartition(col("bucket"))
      }
      val compacted = ensureLayout(s, d, "compacted",
          partitionCols = Seq("bucket")) {
        val nf = frag.agg(greatest(lit(1L),
          expr(s"(count(1) + ${CompactRowsPerFile - 1}) div " +
            s"$CompactRowsPerFile")).as("nf"))
        frag.drop("bucket").crossJoin(broadcast(nf))
          .withColumn("bucket", bucketOf(":comp", col("nf")))
          .drop("nf")
          .repartition(col("bucket"))
      }
      def profile(df: DataFrame, side: String): DataFrame =
        df.groupBy(input_file_name().as("f"))
          .agg(count(lit(1)).as("rows_per_file"))
          .agg(count(lit(1)).as(s"${side}_files"),
            min(col("rows_per_file")).as(s"${side}_min_rows"),
            max(col("rows_per_file")).as(s"${side}_max_rows"),
            sum(col("rows_per_file")).as(s"${side}_rows"))
      profile(frag, "before").crossJoin(profile(compacted, "after"))
        .select(col("before_files"), col("after_files"),
          col("before_rows"), col("after_rows"),
          col("before_min_rows"), col("before_max_rows"),
          col("after_min_rows"), col("after_max_rows"))
    }),

    // Time travel: the same aggregate over snapshot 0 (pre-delete) and
    // snapshot 1 (1995's 'F' orders deleted) of the versioned layout —
    // both versions answer from one immutable file set plus a metadata
    // log, and version 0 remains byte-identical AFTER the delete
    // shipped (TimeTravelSpec pins that, and that each snapshot scans
    // exactly its own live files). Fully oracled: each snapshot's
    // content is a pure function of the base table.
    "q_time_travel" -> ((s, d) => {
      def snap(v: Long): DataFrame =
        snapshot(s, d, v)
          .groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"),
            graft.Exact.sumMoney(col("o_totalprice")).as("total"))
          .select(lit(v).as("version"), col("o_orderstatus"), col("n"),
            col("total"))
      snap(0L).unionAll(snap(1L))
        .orderBy(col("version"), col("o_orderstatus"))
    }),

    // Shallow clone: the same aggregate q_time_travel runs on version
    // 1, answered from the CLONE's own manifest — CloneSpec pins that
    // the clone scans exactly the source's live files (zero data
    // copied; the clone dir holds only a metadata log). Fully oracled
    // (identical content contract to the source's current version).
    "q_layout_clone" -> ((s, d) =>
      cloneSnapshot(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.sumMoney(col("o_totalprice")).as("total"))
        .orderBy(col("o_orderstatus"))),

    // VACUUM / retention over the versioned layout — the lifecycle
    // step after delete/compact/clone: pick a retention horizon
    // (here: the current version, 1), and every file that only
    // versions BELOW the horizon reference becomes reclaimable —
    // exactly Delta VACUUM's contract (time travel below the horizon
    // is given up; every snapshot at or above it stays byte-complete).
    // Resolution is pure metadata: reclaimable = remove-actions ≤
    // horizon (their adds are strictly older), live = adds ≤ horizon
    // minus those removes — the data files are never opened to DECIDE,
    // and the only driver-side work is the KB-scale path list (the
    // same budget as snapshot()). Published as the AUDIT manifest with
    // TABLE semantics per category — the row count and money total of
    // the data each category's file set carries — by actually scanning
    // the two file sets, so the audit proves what a vacuum would
    // discard (all of v0's 1995 partition: every 1995 order) and what
    // the horizon keeps (everything else, plus 1995's non-F rewrite).
    // Those are pure functions of the metadata log over the orders
    // table, hence fully ORACLED; the physical half (file counts,
    // on-disk bytes, reclaim ∩ snapshot = ∅) depends on write
    // parallelism and lives in VacuumSpec. The physical delete is a
    // trivial rm over the reclaim list, withheld here so earlier
    // versions stay readable for q_time_travel in the same warehouse.
    "q_layout_vacuum" -> ((s, d) => {
      val dir = ensureTimeTravel(s, d)
      val log = s.read.parquet(s"$dir/_log")
      val horizon = 1L
      val removed = log
        .filter(col("action") === "remove" && col("ver") <= horizon)
        .select(col("path"))
      val live = log
        .filter(col("action") === "add" && col("ver") <= horizon)
        .select(col("path")).except(removed)
      def summarize(df: DataFrame, label: String): DataFrame = {
        val paths = df.collect().map(_.getString(0).stripPrefix("file:"))
        s.read.parquet(paths.toIndexedSeq: _*)
          .agg(count(lit(1)).as("n_rows"),
            graft.Exact.sumMoney(col("o_totalprice")).as("total"))
          .select(lit(label).as("category"), col("n_rows"), col("total"))
      }
      summarize(removed, "reclaimable").unionAll(summarize(live, "live"))
        .orderBy(col("category"))
    }),

    // Z-order (Morton-curve) clustering vs linear clustering, judged
    // by the zone maps it produces — the Delta `OPTIMIZE ZORDER BY` /
    // Iceberg sort-order decision, computed rather than asserted.
    // Both keys are first normalized to an 8-bit grid, then rows are
    // bucketed two ways: row-major (a, then b — what a plain ORDER BY
    // gives) and by the interleaved-bit Morton value. For each
    // clustering the query derives every bucket's (min, max) zone map
    // per column and counts how many buckets a single-column or
    // two-column range predicate must read. Linear clustering skips
    // only on the LEADING key (the trailing key's zone maps span the
    // whole domain in every bucket — measured: read_b = n_buckets);
    // Z-order trades a little leading-key locality for skipping on
    // BOTH (measured at sf0.01: a-pred 5/59 vs 8/64, b-pred 59/59 vs
    // 24/64, conjunction 5 vs 3). At 100 TB the bucket is a file and
    // the zone map is its parquet footer stats — this query IS the
    // skipping calculation a scan planner runs, and the integer bit
    // math is bit-identical in DuckDB (fully oracled). One thin
    // shuffle on the bucket id; everything else is per-row map work.
    "q_zorder_skipping" -> ((s, d) => {
      // UNROLLED bit interleave (r17): the lambda form
      // aggregate(sequence(0,7), ...) materializes an array and runs
      // interpreted per element — higher-order functions fall out of
      // whole-stage codegen — for what is 16 constant shift/mask terms.
      // The unrolled sum is the same integer arithmetic bit for bit
      // (oracle unchanged, still the aggregate-lambda SQL in DuckDB).
      val zExpr = (0 to 7).map(i =>
        s"shiftleft(shiftright(a8, $i) & 1, ${2 * i}) + " +
          s"shiftleft(shiftright(b8, $i) & 1, ${2 * i + 1})")
        .mkString("cast(0 as bigint) + ", " + ", "")
      // checkpointed: both clustering passes read the same tagged
      // rows, and the per-row Morton fold is the expensive projection
      // — one scan + one z-compute instead of two
      val tagged = Tables.lineitem(s, d)
        .select(col("l_orderkey").as("a"), col("l_partkey").as("b"),
          expr("least(l_orderkey div 64, 255)").as("a8"),
          expr("least(l_partkey div 8, 255)").as("b8"))
        .withColumn("zv", expr(zExpr))
        .withColumn("rm", col("a8") * 256 + col("b8"))
        .localCheckpoint()
      def zones(bucketExpr: String, layout: String): DataFrame =
        tagged.groupBy(expr(bucketExpr).as("bucket"))
          .agg(min(col("a")).as("mina"), max(col("a")).as("maxa"),
            min(col("b")).as("minb"), max(col("b")).as("maxb"))
          .agg(count(lit(1)).as("n_buckets"),
            sum(when(col("maxa") >= 1000 && col("mina") <= 1999, 1L)
              .otherwise(0L)).as("read_a"),
            sum(when(col("maxb") >= 500 && col("minb") <= 999, 1L)
              .otherwise(0L)).as("read_b"),
            sum(when(col("maxa") >= 1000 && col("mina") <= 1999 &&
                col("maxb") >= 500 && col("minb") <= 999, 1L)
              .otherwise(0L)).as("read_ab"))
          .select(lit(layout).as("layout"), col("n_buckets"),
            col("read_a"), col("read_b"), col("read_ab"))
      zones("rm div 1024", "rowmajor")
        .unionAll(zones("zv div 1024", "zorder"))
        .orderBy(col("layout"))
    })
  )

  /** q_compact_files knobs: the fixture fragments lineitem into 64
    * files (≈940 rows each at sf0.01 — the pathological
    * many-tiny-files shape); compaction targets 16k rows per file
    * (stand-in for the ~128 MB row-group sweet spot at cluster
    * scale).
    */
  val FragmentFiles = 64
  val CompactRowsPerFile = 16384

  val oracle: Map[String, String] = Map(
    // the md5-bucket file assignment is a pure function of the table,
    // so the file profile replays as all-integer bucket arithmetic;
    // files-on-disk == buckets is separately pinned by CompactionSpec
    "q_compact_files" ->
      s"""WITH li AS (SELECT l_orderkey FROM lineitem),
         |nf AS (SELECT CAST(GREATEST(1,
         |    (count(*) + ${CompactRowsPerFile - 1}) // $CompactRowsPerFile)
         |    AS BIGINT) AS n FROM li),
         |bb AS (SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
         |    || ':frag'), 1, 12))::BIGINT % $FragmentFiles AS b FROM li),
         |ba AS (SELECT ('0x' || substr(md5(CAST(l_orderkey AS VARCHAR)
         |    || ':comp'), 1, 12))::BIGINT % (SELECT n FROM nf) AS b
         |  FROM li),
         |pb AS (SELECT CAST(count(*) AS BIGINT) AS r FROM bb GROUP BY b),
         |pa AS (SELECT CAST(count(*) AS BIGINT) AS r FROM ba GROUP BY b),
         |fb AS (SELECT CAST(count(*) AS BIGINT) AS before_files,
         |  CAST(min(r) AS BIGINT) AS before_min_rows,
         |  CAST(max(r) AS BIGINT) AS before_max_rows,
         |  CAST(sum(r) AS BIGINT) AS before_rows FROM pb),
         |fa AS (SELECT CAST(count(*) AS BIGINT) AS after_files,
         |  CAST(min(r) AS BIGINT) AS after_min_rows,
         |  CAST(max(r) AS BIGINT) AS after_max_rows,
         |  CAST(sum(r) AS BIGINT) AS after_rows FROM pa)
         |SELECT before_files, after_files, before_rows, after_rows,
         |  before_min_rows, before_max_rows,
         |  after_min_rows, after_max_rows
         |FROM fb, fa""".stripMargin,
    "q_point_get_indexed" ->
      """SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice,
        |  o_orderpriority
        |FROM orders WHERE o_orderkey = 42""".stripMargin,
    "q_bucketed_join" ->
      """SELECT o_orderstatus, count(*) AS n_items,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(4,2)) - CAST(l_discount AS DECIMAL(4,2)))) AS DOUBLE) AS revenue
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q_delete_rewrite" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year, o_orderstatus,
        |  count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT (year(o_orderdate) = 1995 AND o_orderstatus = 'F')
        |GROUP BY 1, 2 ORDER BY o_year, o_orderstatus""".stripMargin,
    "q_partition_pruning" ->
      """SELECT o_orderpriority, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders WHERE year(o_orderdate) = 1997
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_layout_clone" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT (year(o_orderdate) = 1995 AND o_orderstatus = 'F')
        |GROUP BY 1 ORDER BY o_orderstatus""".stripMargin,
    "q_time_travel" ->
      """SELECT CAST(0 AS BIGINT) AS version, o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY 2
        |UNION ALL
        |SELECT CAST(1 AS BIGINT), o_orderstatus, count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders
        |WHERE NOT (year(o_orderdate) = 1995 AND o_orderstatus = 'F')
        |GROUP BY 2
        |ORDER BY version, o_orderstatus""".stripMargin,
    // vacuum's category partition restated as table semantics:
    // reclaimable = v0's o_year=1995 files (every 1995 order, any
    // status — the copy-on-write delete removed those files whole);
    // live = adds ≤ horizon minus removes = non-1995 v0 files plus the
    // v1 rewrite (1995 minus status 'F')
    "q_layout_vacuum" ->
      """SELECT 'live' AS category, count(*) AS n_rows,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders
        |WHERE NOT (year(o_orderdate) = 1995 AND o_orderstatus = 'F')
        |UNION ALL
        |SELECT 'reclaimable', count(*),
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
        |FROM orders WHERE year(o_orderdate) = 1995
        |ORDER BY category""".stripMargin,
    "q_zorder_skipping" ->
      """WITH base AS (
        |  SELECT l_orderkey AS a, l_partkey AS b,
        |    least(l_orderkey // 64, 255) AS a8,
        |    least(l_partkey // 8, 255) AS b8
        |  FROM lineitem),
        |tagged AS (
        |  SELECT a, b,
        |    list_sum(list_transform(generate_series(0, 7),
        |      i -> (((a8 >> i) & 1) << (2*i)) + (((b8 >> i) & 1) << (2*i+1)))) AS zv,
        |    a8 * 256 + b8 AS rm
        |  FROM base),
        |zones AS (
        |  SELECT 'rowmajor' AS layout, rm // 1024 AS bucket,
        |    min(a) mina, max(a) maxa, min(b) minb, max(b) maxb
        |  FROM tagged GROUP BY 1, 2
        |  UNION ALL
        |  SELECT 'zorder', zv // 1024,
        |    min(a), max(a), min(b), max(b)
        |  FROM tagged GROUP BY 1, 2)
        |SELECT layout, count(*) AS n_buckets,
        |  CAST(sum(CASE WHEN maxa >= 1000 AND mina <= 1999 THEN 1 ELSE 0 END) AS BIGINT) AS read_a,
        |  CAST(sum(CASE WHEN maxb >= 500 AND minb <= 999 THEN 1 ELSE 0 END) AS BIGINT) AS read_b,
        |  CAST(sum(CASE WHEN maxa >= 1000 AND mina <= 1999
        |       AND maxb >= 500 AND minb <= 999 THEN 1 ELSE 0 END) AS BIGINT) AS read_ab
        |FROM zones GROUP BY layout ORDER BY layout""".stripMargin
  )
}
