package graft.operators

import graft.{SessionResources, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Coverage extras: non-equi (range/theta) join, exact percentiles,
  * bag-semantics set ops, and non-parquet source/sink round-trips.
  *
  * Scale notes: the range join broadcasts the (tiny, constant) band
  * dimension so the fact side streams through a nested-loop probe
  * against an in-memory interval list — the right plan when one side
  * is O(10) rows. Percentiles shuffle once on the grouping key; CSV /
  * JSON round-trips exercise the DataSource write + read paths with
  * explicit schemas (never inference at scale).
  */
object Extras {

  /** Value bands for the range join (closed-open intervals). */
  private val bands = Seq(
    (0.0, 50.0, "low"), (50.0, 120.0, "mid"), (120.0, 1e9, "high"))

  /** Finite bands for the BINNED range join (the 1e9 tail band above
    * would explode 20M bins): covers the full events.value range.
    */
  private val binnedBands = Seq(
    (0.0, 40.0, "b0"), (40.0, 90.0, "b1"), (90.0, 160.0, "b2"),
    (160.0, 250.0, "b3"), (250.0, 100000.0, "b4"))

  /** The write-once binary file corpus (a warehouse artifact,
    * `SessionResources.artifact`; deterministic content: one file per
    * doc_id < 200, content = text + newline via the text writer), read
    * back through the binaryFile source with the key recovered from the
    * partition directory. Shared by q_binary_source and the cross-modal
    * join (media.Multimodal) — in production these files are the
    * downloaded image set. The resolved relation comes from the
    * session's relation memo (`Tables.read`): the fixture's 200
    * partition directories make each fresh resolve a distributed
    * listing job.
    */
  private[graft] def binaryFixture(s: SparkSession, d: String): DataFrame = {
    val out = SessionResources.artifact(s, d, "binfix") { dir =>
      Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(col("doc_id"), col("text"))
        .write.partitionBy("doc_id").mode("overwrite").text(dir.toString)
    }
    Tables.read(s, out.toString, "binaryFile")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Non-equi range join: each event lands in its value band.
    "q_range_join" -> ((s, d) => {
      import s.implicits._
      val b = bands.toDF("lo", "hi", "band")
      Tables.events(s, d)
        .join(broadcast(b), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.sumMoney(col("value")).as("v_sum"))
        .orderBy(col("band"))
    }),

    // Bloom-prefiltered semi join — Spark's internal join runtime
    // filter (InjectRuntimeFilter) surfaced as an explicit operator:
    // one aggregate builds a bloom filter over the small side's keys
    // (constant-size bits, here 128 Kbit for ≤10k keys), a scalar
    // subquery ships it into a `might_contain` predicate evaluated AT
    // THE FACT SCAN, and the exact semi join then verifies only the
    // bloom-positive survivors. No false negatives ⇒ the output is
    // exactly the plain semi join (fully oracled); at 100 TB the
    // sketch replaces broadcasting a huge id set and the join input
    // shrinks to the match fraction before any exchange.
    "q_bloom_semijoin" -> ((s, d) => {
      graft.functions.SketchFunctions.register(s)
      Tables.events(s, d).createOrReplaceTempView("graft_bf_events")
      Tables.customer(s, d).createOrReplaceTempView("graft_bf_customer")
      s.sql(
        """SELECT e.event_type, count(*) AS n,
          |  CAST(sum(CAST(e.value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
          |FROM graft_bf_events e
          |WHERE graft_bloom_contains(
          |        (SELECT graft_bloom_agg(xxhash64(c_custkey), 10000L, 131072L)
          |         FROM graft_bf_customer WHERE c_mktsegment = 'BUILDING'),
          |        xxhash64(e.user_id))
          |  AND e.user_id IN (SELECT c_custkey FROM graft_bf_customer
          |                    WHERE c_mktsegment = 'BUILDING')
          |GROUP BY e.event_type ORDER BY e.event_type""".stripMargin)
    }),

    // Exact interpolated percentiles per group.
    "q_percentile" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 4).as("p50"),
          round(expr("percentile(value, 0.25)"), 4).as("p25"),
          round(expr("percentile(value, 0.75)"), 4).as("p75"),
          count(lit(1)).as("n"))
        .orderBy(col("event_type"))),

    // Approximate percentile sketch (KLL-style) — rows-only: sketch
    // internals differ across engines by construction.
    "q_approx_percentile" -> ((s, d) =>
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(expr("approx_percentile(value, array(0.5, 0.9), 1000)").as("p50_p90"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          element_at(col("p50_p90"), 1).as("p50"),
          element_at(col("p50_p90"), 2).as("p90"),
          col("n"))
        .orderBy(col("event_type"))),

    // Bag-semantics set operations (ALL variants).
    "q_set_intersect_all" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .intersectAll(
          Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"))),

    "q_set_except_all" -> ((s, d) =>
      Tables.customer(s, d).select(col("c_nationkey").as("nationkey"))
        .exceptAll(
          Tables.supplier(s, d).select(col("s_nationkey").as("nationkey")))
        .groupBy(col("nationkey")).agg(count(lit(1)).as("n"))
        .orderBy(col("nationkey"))),

    // Unpivot (melt): wide per-status counts back to long form.
    "q_unpivot" -> ((s, d) =>
      Tables.orders(s, d)
        .groupBy(col("o_orderpriority"))
        .pivot("o_orderstatus", Seq("F", "O", "P"))
        .agg(count(lit(1)))
        .na.fill(0L)
        .unpivot(Array(col("o_orderpriority")),
          Array(col("F"), col("O"), col("P")), "status", "n")
        .orderBy(col("o_orderpriority"), col("status"))),

    // Deterministic content-hash train/val/test split — the sampling
    // primitive a training pipeline needs: pure map work (no shuffle,
    // no RNG state), reproducible across runs and engines, and stable
    // under repartitioning because the bucket comes from the document
    // bytes, not the row position.
    "q_sample_split" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          pmod(conv(substring(md5(col("text").cast("binary")), 1, 4), 16, 10)
            .cast("long"), lit(10L)).as("bucket"))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val")
            .otherwise("test"))
        .orderBy(col("doc_id"))),

    // MERGE-style upsert: an updates set (price bump on matched keys +
    // brand-new rows) full-outer-joined with the base, coalescing
    // per-column — matched rows update, unmatched updates insert,
    // untouched base rows pass through. This is the compute half of
    // copy-on-write MERGE (Delta/Iceberg shape); q_delete_rewrite shows
    // the physical half (dynamic partition overwrite). One shuffle per
    // side on the key — or zero against the bucketed layout — and the
    // updates side is typically broadcast-size in practice. Exact
    // DECIMAL price math keeps the oracle bit-identical.
    "q_merge_upsert" -> ((s, d) => {
      val base = Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"),
          graft.Exact.money(col("o_totalprice")).as("b_total"))
      val bump = expr("CAST(1.05 AS DECIMAL(3,2))")
      val updates = base.filter(col("o_orderkey") % 100 === 0)
        .select(col("o_orderkey").as("u_key"), lit("U").as("u_status"),
          (col("b_total") * bump).cast("decimal(22,4)").as("u_total"))
      val inserts = base.filter(col("o_orderkey") % 1000 === 500)
        .select((col("o_orderkey") + 10000000L).as("u_key"),
          lit("N").as("u_status"),
          expr("CAST(1000.00 AS DECIMAL(22,4))").as("u_total"))
      base.join(updates.unionAll(inserts),
          col("o_orderkey") === col("u_key"), "full_outer")
        .select(
          coalesce(col("u_key"), col("o_orderkey")).as("o_orderkey"),
          coalesce(col("u_status"), col("o_orderstatus")).as("status"),
          coalesce(col("u_total"), col("b_total")).cast("double").as("total"),
          when(col("o_orderkey").isNull, "insert")
            .when(col("u_key").isNull, "keep")
            .otherwise("update").as("action"))
        .orderBy(col("o_orderkey"))
    }),

    // Binned range join through the Catalyst extension (plans/
    // RangeJoin.scala): the join condition is the single
    // graft_range_join marker predicate; the installed optimizer rule
    // lowers the would-be nested-loop join to an equi-join on a bin
    // key (point side: 1 bin/row; band side: explode covered bins) —
    // the plan shape that survives a band table too big to broadcast.
    // PlanSpec pins that no BroadcastNestedLoopJoin remains.
    "q_range_join_binned" -> ((s, d) => {
      import s.implicits._
      graft.plans.RangeJoin.register(s)
      val b = binnedBands.toDF("lo", "hi", "band")
      Tables.events(s, d)
        .join(b, expr("graft_range_join(value, lo, hi, 50.0D)"))
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.sumMoney(col("value")).as("v_sum"))
        .orderBy(col("band"))
    }),

    // Time-series resample + gap fill: 10-minute activity buckets per
    // event type with EMPTY buckets materialized as zero rows over
    // each type's [min, max] span — the telemetry/feature densify
    // pass (downstream models need a value at every step). The bucket
    // aggregate is one thin shuffle of (type, bucket) rows; the spine
    // is sequence+explode over the per-type min/max agg (a handful of
    // rows, broadcast into the left join) — the event volume never
    // re-shuffles, and the spine grows with time span, not events.
    "q_gap_fill" -> ((s, d) => {
      val buckets = Tables.events(s, d)
        .groupBy(col("event_type"), window(col("ts"), "10 minutes"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.sumMoney(col("value")).as("v_sum"))
        .select(col("event_type"), col("window.start").as("w_start"),
          col("n"), col("v_sum"))
      val spine = buckets.groupBy(col("event_type"))
        .agg(min(col("w_start")).as("t0"), max(col("w_start")).as("t1"))
        .select(col("event_type").as("et"),
          explode(expr("sequence(t0, t1, interval 10 minutes)")).as("ws"))
      spine.join(buckets,
          col("et") === col("event_type") && col("ws") === col("w_start"),
          "left")
        .select(col("et").as("event_type"), col("ws").as("w_start"),
          coalesce(col("n"), lit(0L)).as("n"),
          coalesce(col("v_sum"), lit(0.0)).as("v_sum"))
        .orderBy(col("event_type"), col("w_start"))
    }),

    // CDC snapshot diff: given two table versions (v1 = orders; v2 =
    // v1 with price bumps on %100 keys, new rows at %1000=500, and
    // %97 keys deleted), emit the change log — insert/update/delete
    // rows with before/after values. Full-outer join on the key (one
    // shuffle per side, exchange-free against a bucketed layout),
    // unchanged rows dropped early so the log ships only deltas. This
    // is the table-format CDF shape (Delta/Iceberg changelog read);
    // with q_merge_upsert (apply) and q_delete_rewrite (physical
    // rewrite) it completes the mutation surface.
    "q_cdc_diff" -> ((s, d) => {
      val v1 = Tables.orders(s, d)
        .select(col("o_orderkey"), graft.Exact.money(col("o_totalprice")).as("p1"))
      val bump = expr("CAST(1.05 AS DECIMAL(3,2))")
      val v2 = v1.filter(col("o_orderkey") % 97 =!= 0)
        .select(col("o_orderkey").as("k2"),
          when(col("o_orderkey") % 100 === 0,
            (col("p1") * bump).cast("decimal(22,4)"))
            .otherwise(col("p1").cast("decimal(22,4)")).as("p2"))
        .unionAll(v1.filter(col("o_orderkey") % 1000 === 500)
          .select((col("o_orderkey") + 10000000L).as("k2"),
            expr("CAST(1000.00 AS DECIMAL(22,4))").as("p2")))
      v1.join(v2, col("o_orderkey") === col("k2"), "full_outer")
        .withColumn("change",
          when(col("o_orderkey").isNull, "insert")
            .when(col("k2").isNull, "delete")
            .when(col("p1").cast("decimal(22,4)") =!= col("p2"), "update"))
        .filter(col("change").isNotNull)
        .select(coalesce(col("o_orderkey"), col("k2")).as("o_orderkey"),
          col("change"), col("p1").cast("double").as("old_total"),
          col("p2").cast("double").as("new_total"))
        .orderBy(col("o_orderkey"))
    }),

    // SCD Type-2 dimension history (Kimball): compress each user's
    // event stream into state-validity intervals — one row per state
    // CHANGE with [valid_from, valid_to) in epoch micros, open
    // interval on the current state. This is the dimension-table side
    // of the mutation surface (cdc_diff emits the changelog; this
    // builds the history a point-in-time join consumes, the q_asof
    // shape). Both windows partition by user_id — bounded per-user
    // partitions, the q_sessionize scale profile; change-point
    // filtering drops unchanged rows BEFORE the numbering window, so
    // the second pass runs over the compressed set. Fully oracled.
    "q_scd2_history" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .filter(col("prev").isNull || col("prev") =!= col("event_type"))
        .withColumn("ver", row_number().over(w).cast("long"))
        .withColumn("valid_to_us", lead(col("tus"), 1).over(w))
        .select(col("user_id"), col("ver"), col("event_type").as("state"),
          col("tus").as("valid_from_us"), col("valid_to_us"),
          col("valid_to_us").isNull.as("is_current"))
        .orderBy(col("user_id"), col("ver"))
    }),

    // TEMPORAL (SCD2 as-of) dimension join: resolve, for every fact
    // event, the dimension state version EFFECTIVE at its event time —
    // the join every warehouse runs between a fact stream and an
    // effective-dated dimension. The generic form is an interval join
    // (valid_from ≤ ts < valid_to — the binned-range-join operator's
    // territory); when fact and dimension share the entity key, the
    // scale-right plan is this one: ONE co-partitioned window pass
    // that numbers change-points (running sum of change indicators =
    // the SCD2 `ver`) and fills each island with its opening state —
    // gaps-and-islands instead of a range join, zero join state, one
    // user_id exchange. Fully oracled; by construction each event's
    // resolved state equals the q_scd2_history version whose interval
    // contains it (the spec joins the two outputs to pin exactly
    // that).
    "q_scd2_asof" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
      val run = Window.partitionBy(col("user_id"))
        .orderBy(col("tus"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables.events(s, d)
        .select(col("user_id"), col("event_id"), col("event_type"),
          unix_micros(col("ts")).as("tus"))
        .withColumn("prev", lag(col("event_type"), 1).over(w))
        .withColumn("chg",
          when(col("prev").isNull || col("prev") =!= col("event_type"), 1L)
            .otherwise(0L))
        .withColumn("ver", sum(col("chg")).over(run))
        .withColumn("eff_state",
          max(when(col("chg") === 1L, col("event_type")))
            .over(Window.partitionBy(col("user_id"), col("ver"))))
        .select(col("user_id"), col("event_id"), col("tus"), col("ver"),
          col("eff_state"))
        .orderBy(col("user_id"), col("tus"), col("event_id"))
    }),

    // Schema evolution: two parquet batches written with different
    // schemas (the second adds a column), read back through
    // `mergeSchema` — old rows surface NULL for the new column. This
    // is how a long-lived 100 TB table actually grows columns: no
    // rewrite of existing files, the reader reconciles footers; at
    // scale `mergeSchema` costs one footer read per file, after which
    // the unified schema prunes/pushes down like any other scan.
    "q_schema_merge" -> ((s, d) => {
      val out = SessionResources.scratchDir(s, "evolve")
      val base = Tables.orders(s, d)
      base.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_orderstatus"))
        .write.mode("overwrite").parquet(s"$out/batch=1")
      base.filter(col("o_orderkey") % 2 === 1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").cast("double").as("price"))
        .write.mode("overwrite").parquet(s"$out/batch=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .select(col("o_orderkey"), col("o_orderstatus"), col("price"))
        .orderBy(col("o_orderkey"))
    }),

    // potpot's insert as a physical append-mode sink: base write, then
    // an appended batch, read back as one table.
    "q_append_sink" -> ((s, d) => {
      import s.implicits._
      val out = SessionResources.scratchDir(s, "append")
      Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
        .write.mode("overwrite").parquet(out)
      Seq((5, "VIRTUAL_A"), (6, "VIRTUAL_B")).toDF("r_regionkey", "r_name")
        .write.mode("append").parquet(out)
      s.read.parquet(out).orderBy(col("r_regionkey"), col("r_name"))
    }),

    // CSV sink + source round-trip (integer-valued columns: CSV has no
    // binary-exact double representation guarantee across writers).
    "q_csv_roundtrip" -> ((s, d) => {
      val out = SessionResources.scratchDir(s, "csv")
      Tables.events(s, d)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
        .write.mode("overwrite").option("header", "true").csv(out)
      s.read.option("header", "true")
        .schema("event_type STRING, n BIGINT, n_users BIGINT")
        .csv(out)
        .orderBy(col("event_type"))
    }),

    // ORC sink + source round-trip.
    "q_orc_roundtrip" -> ((s, d) => {
      val out = SessionResources.scratchDir(s, "orc")
      Tables.part(s, d)
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"), min(col("p_size")).as("min_size"),
          max(col("p_size")).as("max_size"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out).orderBy(col("p_brand"))
    }),

    // Binary-file source: the multimodal ingest path — a corpus of
    // opaque per-document files (images/audio in production) read as
    // (path, length, content) with the document key recovered from
    // the partition directory. The fixture derives one file per
    // document (bounded: doc_id < 200) from the documents table via a
    // distributed partitioned text write — no driver loop — and the
    // read is verified end-to-end by length + content digest against
    // the table the files came from. At scale this source streams
    // files partition-local with zero shuffle, and partition pruning
    // on the key applies before any byte is read.
    //
    // The file corpus is a WRITE-ONCE warehouse artifact
    // (`binaryFixture`, deterministic content): in production the
    // binary files already exist — re-materializing 200 partition
    // directories per run benched as the entire query cost.
    "q_binary_source" -> ((s, d) =>
      binaryFixture(s, d)
        .select(col("doc_id").cast("long").as("doc_id"), col("length"),
          md5(col("content")).as("content_md5"))
        .orderBy(col("doc_id"))),

    // Line-oriented TEXT source — the raw LLM-corpus ingest format
    // (one document per line, the WebText/Pile shape): sink the
    // corpus through the text writer, read it back with
    // spark.read.text, and re-key each line by content fingerprint.
    // Unlike q_binary_source (whole-file ingest, key from the
    // directory), this is the splittable line reader: at 100 TB the
    // scan parallelizes WITHIN files by line boundary, zero shuffle
    // until the re-key aggregate — text lands as rows, not files. The
    // oracle reads the same documents from parquet: the roundtrip is
    // lossless (documents contain no newlines), so equality IS the
    // source's correctness. Compared per content FINGERPRINT (the
    // corpus deliberately contains exact-duplicate texts for the
    // dedup family), with the line count carried from the TEXT side
    // and the doc count from the PARQUET side — the join proves the
    // source preserves line multiplicity, and only 16-byte hashes
    // ever enter the exchange.
    "q_text_source" -> ((s, d) => {
      val out = SessionResources.scratchDir(s, "textlines")
      Tables.documents(s, d).select(col("text"))
        .write.mode("overwrite").text(out)
      val lines = s.read.text(out)
        .select(md5(col("value").cast("binary")).as("line_fp"),
          length(col("value")).cast("long").as("n_chars"))
        .groupBy(col("line_fp"), col("n_chars"))
        .agg(count(lit(1)).as("n_lines"))
      val keys = Tables.documents(s, d)
        .select(md5(col("text").cast("binary")).as("line_fp"), col("doc_id"))
        .groupBy(col("line_fp"))
        .agg(count(lit(1)).as("n_docs"), min(col("doc_id")).as("first_doc"))
      lines.join(keys, "line_fp")
        .select(col("line_fp"), col("n_chars"), col("n_lines"),
          col("n_docs"), col("first_doc"))
        .orderBy(col("line_fp"))
    }),

    // JSON sink + source round-trip.
    "q_json_roundtrip" -> ((s, d) => {
      val out = SessionResources.scratchDir(s, "json")
      Tables.orders(s, d)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"),
          graft.Exact.sumMoney(col("o_totalprice")).as("total"))
        .write.mode("overwrite").json(out)
      s.read.schema("o_orderstatus STRING, n BIGINT, total DOUBLE")
        .json(out)
        .orderBy(col("o_orderstatus"))
    })
  )

  private val bandsSql =
    bands.map { case (lo, hi, n) => s"($lo, $hi, '$n')" }.mkString(", ")
  private val binnedBandsSql =
    binnedBands.map { case (lo, hi, n) => s"($lo, $hi, '$n')" }.mkString(", ")

  val oracle: Map[String, String] = Map(
    "q_gap_fill" ->
      """WITH b AS (
        |  SELECT event_type,
        |    time_bucket(INTERVAL 10 MINUTE, CAST(ts AS TIMESTAMP)) AS w_start,
        |    count(*) AS n,
        |    CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
        |  FROM events GROUP BY 1, 2),
        |s AS (
        |  SELECT event_type,
        |    unnest(generate_series(min(w_start), max(w_start),
        |                           INTERVAL 10 MINUTE)) AS w_start
        |  FROM b GROUP BY event_type)
        |SELECT s.event_type, s.w_start,
        |  coalesce(b.n, 0) AS n, coalesce(b.v_sum, 0.0) AS v_sum
        |FROM s LEFT JOIN b ON s.event_type = b.event_type
        |                  AND s.w_start = b.w_start
        |ORDER BY s.event_type, s.w_start""".stripMargin,
    // the bloom prefilter has no false negatives and the semi join
    // verifies exactly, so the oracle is the plain semi join
    "q_bloom_semijoin" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
        |FROM events
        |WHERE user_id IN (SELECT c_custkey FROM customer
        |                  WHERE c_mktsegment = 'BUILDING')
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_range_join_binned" ->
      s"""SELECT band, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
         |FROM events
         |JOIN (VALUES $binnedBandsSql) b(lo, hi, band)
         |  ON value >= lo AND value < hi
         |GROUP BY band ORDER BY band""".stripMargin,
    "q_range_join" ->
      s"""SELECT band, count(*) AS n,
         |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v_sum
         |FROM events
         |JOIN (VALUES $bandsSql) b(lo, hi, band)
         |  ON value >= lo AND value < hi
         |GROUP BY band ORDER BY band""".stripMargin,
    "q_percentile" ->
      """SELECT event_type,
        |  round(quantile_cont(value, 0.5), 4) AS p50,
        |  round(quantile_cont(value, 0.25), 4) AS p25,
        |  round(quantile_cont(value, 0.75), 4) AS p75,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_set_intersect_all" ->
      """SELECT nationkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  INTERSECT ALL SELECT s_nationkey FROM supplier) t
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_set_except_all" ->
      """SELECT nationkey, count(*) AS n FROM (
        |  SELECT c_nationkey AS nationkey FROM customer
        |  EXCEPT ALL SELECT s_nationkey FROM supplier) t
        |GROUP BY nationkey ORDER BY nationkey""".stripMargin,
    "q_unpivot" ->
      """SELECT o_orderpriority, status, n FROM (
        |  SELECT o_orderpriority,
        |    count(*) FILTER (WHERE o_orderstatus = 'F') AS F,
        |    count(*) FILTER (WHERE o_orderstatus = 'O') AS O,
        |    count(*) FILTER (WHERE o_orderstatus = 'P') AS P
        |  FROM orders GROUP BY o_orderpriority) w
        |UNPIVOT (n FOR status IN (F, O, P))
        |ORDER BY o_orderpriority, status""".stripMargin,
    "q_sample_split" ->
      """SELECT doc_id, bucket,
        |  CASE WHEN bucket < 8 THEN 'train'
        |       WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
        |FROM (SELECT doc_id,
        |        ('0x' || substr(md5(text), 1, 4))::BIGINT % 10 AS bucket
        |      FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    "q_merge_upsert" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CAST(o_totalprice AS DECIMAL(18,2)) AS b_total FROM orders
        |), upd AS (
        |  SELECT o_orderkey AS u_key, 'U' AS u_status,
        |         CAST(b_total * CAST(1.05 AS DECIMAL(3,2)) AS DECIMAL(22,4)) AS u_total
        |  FROM base WHERE o_orderkey % 100 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', CAST(1000.00 AS DECIMAL(22,4))
        |  FROM base WHERE o_orderkey % 1000 = 500
        |)
        |SELECT coalesce(u_key, o_orderkey) AS o_orderkey,
        |       coalesce(u_status, o_orderstatus) AS status,
        |       CAST(coalesce(u_total, b_total) AS DOUBLE) AS total,
        |       CASE WHEN o_orderkey IS NULL THEN 'insert'
        |            WHEN u_key IS NULL THEN 'keep'
        |            ELSE 'update' END AS action
        |FROM base FULL OUTER JOIN upd ON o_orderkey = u_key
        |ORDER BY 1""".stripMargin,
    "q_scd2_asof" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        |marked AS (
        |  SELECT user_id, event_id, event_type, tus,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type
        |         THEN 1 ELSE 0 END AS chg
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)),
        |vered AS (
        |  SELECT user_id, event_id, event_type, tus, chg,
        |    CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY tus, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS ver
        |  FROM marked)
        |SELECT user_id, event_id, tus, ver,
        |  max(CASE WHEN chg = 1 THEN event_type END)
        |    OVER (PARTITION BY user_id, ver) AS eff_state
        |FROM vered ORDER BY user_id, tus, event_id""".stripMargin,
    "q_scd2_history" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |    epoch_us(CAST(ts AS TIMESTAMP)) AS tus FROM events),
        |ch AS (
        |  SELECT user_id, event_id, event_type, tus FROM (
        |    SELECT user_id, event_id, event_type, tus,
        |      lag(event_type) OVER (PARTITION BY user_id
        |        ORDER BY tus, event_id) AS prev
        |    FROM e) x
        |  WHERE prev IS NULL OR prev <> event_type)
        |SELECT user_id, CAST(row_number() OVER w AS BIGINT) AS ver,
        |  event_type AS state, tus AS valid_from_us,
        |  lead(tus) OVER w AS valid_to_us,
        |  lead(tus) OVER w IS NULL AS is_current
        |FROM ch
        |WINDOW w AS (PARTITION BY user_id ORDER BY tus, event_id)
        |ORDER BY user_id, ver""".stripMargin,
    "q_cdc_diff" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p1 FROM orders
        |), v2 AS (
        |  SELECT o_orderkey AS k2,
        |    CAST(CASE WHEN o_orderkey % 100 = 0
        |              THEN p1 * CAST(1.05 AS DECIMAL(3,2)) ELSE p1 END
        |         AS DECIMAL(22,4)) AS p2
        |  FROM v1 WHERE o_orderkey % 97 != 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, CAST(1000.00 AS DECIMAL(22,4))
        |  FROM v1 WHERE o_orderkey % 1000 = 500
        |)
        |SELECT coalesce(o_orderkey, k2) AS o_orderkey,
        |  CASE WHEN o_orderkey IS NULL THEN 'insert'
        |       WHEN k2 IS NULL THEN 'delete'
        |       WHEN CAST(p1 AS DECIMAL(22,4)) != p2 THEN 'update' END AS change,
        |  CAST(p1 AS DOUBLE) AS old_total, CAST(p2 AS DOUBLE) AS new_total
        |FROM v1 FULL OUTER JOIN v2 ON o_orderkey = k2
        |WHERE (o_orderkey IS NULL OR k2 IS NULL
        |       OR CAST(p1 AS DECIMAL(22,4)) != p2)
        |ORDER BY 1""".stripMargin,
    "q_schema_merge" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN o_orderkey % 2 = 1
        |       THEN CAST(o_totalprice AS DOUBLE) END AS price
        |FROM orders ORDER BY o_orderkey""".stripMargin,
    "q_append_sink" ->
      """SELECT r_regionkey, r_name FROM region
        |UNION ALL SELECT * FROM (VALUES (5, 'VIRTUAL_A'), (6, 'VIRTUAL_B')) v(r_regionkey, r_name)
        |ORDER BY r_regionkey, r_name""".stripMargin,
    "q_csv_roundtrip" ->
      """SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_orc_roundtrip" ->
      """SELECT p_brand, count(*) AS n, min(p_size) AS min_size,
        |  max(p_size) AS max_size
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_json_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS n,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // lossless roundtrip ⇒ the oracle is the corpus itself (both the
    // text-side line count and the parquet-side doc count are count(*))
    // n_chars is CHARS-intended (Spark `length()` counts characters) —
    // DuckDB length(), not the byte-counting strlen
    "q_text_source" ->
      """SELECT md5(text) AS line_fp, CAST(length(text) AS BIGINT) AS n_chars,
        |  count(*) AS n_lines, count(*) AS n_docs,
        |  CAST(min(doc_id) AS BIGINT) AS first_doc
        |FROM documents GROUP BY md5(text), length(text)
        |ORDER BY line_fp""".stripMargin,
    // the text sink terminates each document with '\n'; `length` is
    // BYTES-intended (binaryFile's file size), so strlen is correct
    "q_binary_source" ->
      """SELECT doc_id, CAST(strlen(text) + 1 AS BIGINT) AS length,
        |  md5(text || chr(10)) AS content_md5
        |FROM documents WHERE doc_id < 200 ORDER BY doc_id""".stripMargin
  )
}
