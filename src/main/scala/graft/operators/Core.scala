package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Core row operations — potpot's intended key/value semantics
  * re-expressed as declarative Spark plans.
  *
  * Reference surface (see SURVEY.md §2.1):
  *  - `query::get(i32) -> Row` (reference `src/query.rs:7-9`): point
  *    lookup by key → an equality filter that Catalyst pushes into the
  *    Parquet scan (`PushedFilters: [EqualTo(l_orderkey,42)]`), so at
  *    cluster scale only row groups whose min/max straddle the key are
  *    read. The plan is one job, one stage and one task:
  *    `Sort(global) ← Coalesce 1 ← Project ← Filter ← FileScan`. The
  *    scan's size estimate fits one AQE advisory partition, so
  *    `plans.SmallSort` sorts one coalesced partition instead of
  *    sampling the scan for a range exchange. The same holds for the
  *    sorts of `q_key_range` and `q_insert_append`.
  *  - `query::insert(&Row)` (reference `src/query.rs:3-5`): append of
  *    typed rows → `UNION ALL` of the table with new tuples (the write
  *    path itself is `df.write.mode("append")`; the query shows the
  *    post-insert read view).
  *  - Seeded xxHash64 (`src/hashtable.rs:65-80`) and CRC32
  *    (`src/aligned.rs:61-64`) are Spark built-ins (`xxhash64`,
  *    `crc32`) — codegen'd, no UDF.
  *  - `Text` ≤1024-byte validation (`src/types.rs:16,33`) → an
  *    `octet_length` predicate.
  *  - Row ≤64-column validation (`src/types.rs:129`) → a per-row
  *    width predicate over variable-width token rows.
  *  - `AnyType` tagged union with 1-byte tag ∈ {1,2} validation
  *    (`src/types.rs:63-77`) → JSON variant encode + typed decode.
  */
object Core {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // potpot get(key): point lookup. Filter reaches the Parquet scan.
    "q_point_get" -> ((s, d) =>
      Tables.lineitem(s, d)
        .filter(col("l_orderkey") === 42L)
        .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
          "l_quantity", "l_extendedprice", "l_returnflag")
        .orderBy(col("l_linenumber"), col("l_partkey"), col("l_suppkey"),
          col("l_extendedprice"))),

    // Key-range scan: BETWEEN predicate, pushed down + row-group pruned.
    "q_key_range" -> ((s, d) =>
      Tables.orders(s, d)
        .filter(col("o_orderkey").between(100L, 120L))
        .orderBy(col("o_orderkey"))),

    // potpot insert(row): the read view after appending typed rows.
    "q_insert_append" -> ((s, d) => {
      import s.implicits._
      val inserted = Seq((5, "VIRTUAL_A"), (6, "VIRTUAL_B"))
        .toDF("r_regionkey", "r_name")
      Tables.region(s, d).select("r_regionkey", "r_name")
        .unionByName(inserted)
        .orderBy(col("r_regionkey"), col("r_name"))
    }),

    // potpot Text<=1024-byte constraint as a validation predicate.
    "q_text_cap" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("n_chars"),
          octet_length(col("text")).cast("long").as("text_bytes"),
          (octet_length(col("text")) <= 1024).as("fits_potpot_text"))
        .orderBy(col("doc_id"))),

    // potpot Row<=64-column constraint (reference src/types.rs:129) as
    // a validation predicate: each document's whitespace token vector
    // viewed as a candidate row — would its width fit a potpot row?
    // Same shape as q_text_cap; both branches occur in the data.
    "q_row_cap" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_fields"),
          (size(split(col("text"), " ")) <= 64).as("fits_potpot_row"))
        .orderBy(col("doc_id"))),

    // potpot AnyType tagged union (reference src/types.rs:63-77): a
    // 1-byte tag selects Integer (1) or Text (2); decode validates the
    // tag and surfaces typed columns. The self-describing value is a
    // JSON variant (the Spark-idiomatic dynamic row), parsed ONCE with
    // an explicit schema into a struct-of-nullables — codegen'd, no
    // per-field re-parse; rows with an out-of-range tag (the encode
    // injects tag=9, mirroring the validation error at types.rs:77)
    // carry valid=false instead of failing the scan.
    "q_variant_decode" -> ((s, d) => {
      import org.apache.spark.sql.types._
      val variant = when(pmod(col("o_orderkey"), lit(3)) === 0,
          to_json(struct(lit(1).as("tag"), col("o_orderkey").as("i"))))
        .when(pmod(col("o_orderkey"), lit(3)) === 1,
          to_json(struct(lit(2).as("tag"), col("o_orderstatus").as("s"))))
        .otherwise(to_json(struct(lit(9).as("tag"))))
      Tables.orders(s, d)
        .select(col("o_orderkey"), col("o_orderstatus"))
        // range-exchange FIRST (the declared sort needs it anyway; the
        // single-row-group scan otherwise runs the whole JSON
        // encode/decode in one task), then the codec runs on every
        // core and the final orderBy reuses the partitioning (r17)
        .repartitionByRange(col("o_orderkey"))
        .select(col("o_orderkey"), variant.as("var"))
        .withColumn("p", from_json(col("var"), StructType(Seq(
          StructField("tag", IntegerType),
          StructField("i", LongType),
          StructField("s", StringType)))))
        .select(col("o_orderkey"),
          col("p.tag").as("tag"), col("p.i").as("i"), col("p.s").as("s"),
          col("p.tag").isin(1, 2).as("valid"))
        .orderBy(col("o_orderkey"))
    }),

    // potpot's seeded xxHash64: the builtin (fixed seed 42) plus the
    // xxh64_seeded kernel with an explicit per-index seed — the
    // reference's hasher design (src/hashtable.rs:95-96); the slot is
    // the seeded hash mod the 511-slot capacity. Fully oracled
    // (round 12): DuckDB has no xxhash64, so the oracle GENERATES the
    // algorithm — hashLong is a fixed ~12-step unsigned-64 fold that
    // mirrors bit-exactly as a HUGEINT CTE chain (see xxh64Sql).
    "q_hash_xxh64" -> ((s, d) => {
      graft.functions.HashFunctions.register(s)
      Tables.orders(s, d)
        .select(col("o_orderkey"),
          xxhash64(col("o_orderkey")).as("key_hash"),
          lit(7L).as("seed"),
          expr("xxh64_seeded(o_orderkey, 7)").as("key_hash_seeded"),
          pmod(expr("xxh64_seeded(o_orderkey, 7)"), lit(511L)).as("slot"))
        .orderBy(col("o_orderkey"))
    }),

    // potpot's CRC32 page checksum — Spark built-in over record bytes.
    // Fully oracled (round 12) as the table-driven byte fold in SQL.
    "q_hash_crc32" -> ((s, d) =>
      Tables.part(s, d)
        .select(col("p_partkey"),
          crc32(col("p_name").cast("binary")).as("name_crc"))
        .orderBy(col("p_partkey"))),

    // ENGINE-CONFORMANCE row: every cross-engine parity class from the
    // round-15 audit (negative-operand div/mod, split edge cases, md5
    // over non-ASCII, codepoint splitting beyond the BMP, double
    // rounding half cases) plus the round-16 REGEX and TIMESTAMP
    // classes, evaluated as LIVE expressions on BOTH engines — the
    // oracle runs the DuckDB half every round, so a semantic drift in
    // either engine fails the driver gate on the hostile fixtures
    // themselves, not only on the benign corpus.
    // (CrossEngineParitySpec additionally pins today's agreed values
    // as committed constants.) Arrays publish as '~'-joined strings —
    // array cells would crash the driver's row sort.
    //
    // Regex class (Java regex on Spark vs RE2-family on DuckDB) —
    // the AGREEING core is pinned live: ASCII-only \d and \w
    // (Unicode digits/letters match in NEITHER engine by default),
    // lazy quantifiers, alternation with $, capture-group indexing,
    // inline (?i), replace-all (Spark's default = DuckDB's 'g'
    // flag), \s over its common members [ \t\n\f\r], and match
    // counting. Two MEASURED divergences stay out as documented
    // non-exposure: (1) Java `$` also matches BEFORE a final
    // newline, RE2 only at end of text ('b$' on "ab\n": 'b' vs no
    // match) — no oracle anchors $ against data that can end in a
    // newline (the binary round-trips handle the trailing \n
    // explicitly); (2) Java \s includes \x0B (VT) which RE2's
    // does not — \s is only ever applied to the generator corpus,
    // which is VT-free, and the agreeing [ \t\n\f\r] core is what
    // re_ws_core pins. Lookaround is unavailable in RE2 entirely,
    // so no oracle may use it (none do).
    //
    // Timestamp class (UTC sessions on both engines): invalid
    // calendar dates (try_cast ↔ TRY_CAST both NULL), negative
    // (pre-epoch) epoch micros incl. the int64-ns deep end,
    // Monday-start week truncation below the epoch, the ISO
    // day-of-week mapping law (Spark weekday()+1 = DuckDB isodow —
    // raw dayofweek() is OFF BY ONE between engines and must never
    // appear unmapped in an oracle), pattern parsing (dd-MMM-yyyy ↔
    // %d-%b-%Y), negative-micro timestamp rendering, and pre-epoch
    // formatting/date casts.
    //
    // Timezone/DST class (round-17 audit; java.time tzdb on Spark vs
    // ICU on DuckDB): the AGREEING core is pinned live — named-zone
    // conversion both directions (Spark from/to_utc_timestamp ↔
    // DuckDB's two-step AT TIME ZONE idiom: naive@'UTC' → instant,
    // instant@zone → naive wall time), the spring-forward boundary
    // (06:59:59Z → 01:59:59 EST, 07:00:00Z → 03:00:00 EDT — the
    // 02:xx hour never appears as output), BOTH fall-back instants
    // mapping to the SAME 01:30 wall time, the NONEXISTENT local
    // time 02:30 on the spring-forward day shifting FORWARD by the
    // gap in both engines (→ 07:30Z), a zone roundtrip recovering
    // the exact instant, zone-aware date casts across midnight, and
    // sub-hour base offsets (Adelaide +10:30, Kathmandu +5:45).
    // One MEASURED divergence stays out as documented non-exposure:
    // an AMBIGUOUS local wall time (01:30 on the fall-back day)
    // resolves to the EARLIER offset in Spark (java.time: EDT,
    // 05:30Z) but the LATER in DuckDB (ICU: EST, 06:30Z) — no oracle
    // in this repo converts local wall-clock data in a DST zone
    // (both sessions run UTC and every `ts` column is naive UTC), so
    // like the regex `$`/\x0B classes the divergent case cannot
    // straddle an oracle; CrossEngineParitySpec pins Spark's side so
    // a java.time behavior change stays attributable.
    "q_engine_parity" -> ((s, d) =>
      s.range(1).selectExpr(
        "cast(-7 div 2 as bigint) as div_neg_a",
        "cast(7 div -2 as bigint) as div_neg_b",
        "cast(-7 % 2 as bigint) as mod_neg_a",
        "cast(7 % -2 as bigint) as mod_neg_b",
        "cast(pmod(-7, 511) as bigint) as pmod_neg",
        "array_join(split('', ' '), '~') as split_empty",
        "array_join(split('a  b', ' '), '~') as split_adj",
        "array_join(split('a', 'a'), '~') as split_full",
        "md5(cast('héé' as binary)) as md5_nonascii",
        "md5(cast('' as binary)) as md5_empty",
        "cast(length('a😀b') as bigint) as len_supp",
        "array_join(split('a😀b', ''), '~') as split_supp",
        "cast(round(cast(2.5 as double)) as double) as round_half",
        "cast(round(cast(-2.5 as double)) as double) as round_neg_half",
        "round(cast(2.675 as double), 2) as round_shortest",
        "round(cast(0.125 as double), 2) as round_bin_half",
        "'٣' rlike '\\\\d' as re_d_unicode",
        "'é' rlike '\\\\w' as re_w_unicode",
        "'_' rlike '\\\\w' as re_w_underscore",
        "regexp_extract('aaa', 'a+?', 0) as re_lazy",
        "regexp_extract('xaby', 'a(b|$)', 1) as re_alt_anchor",
        "regexp_extract('a1b22c', '(\\\\d)(\\\\d)', 2) as re_group2",
        "'abc' rlike '(?i)ABC' as re_inline_ci",
        "regexp_replace('a1b22c', '\\\\d+', '#') as re_replace_all",
        s"regexp_replace('$WsFixture', '\\\\s+', '_') as re_ws_core",
        "cast(size(regexp_extract_all('x1y22z333', '[0-9]+', 0)) as bigint) as re_n_matches",
        "cast(try_cast('2024-02-30' as date) as string) as ts_bad_date",
        "cast(try_cast('2024-13-01' as date) as string) as ts_bad_month",
        "unix_micros(timestamp'1969-12-31 23:59:59.000001') as ts_neg_us",
        "unix_micros(timestamp'1677-09-21 00:12:43.145224') as ts_deep_neg_us",
        "cast(cast(date_trunc('week', date'1969-12-28') as date) as string) as ts_trunc_week_pre",
        "cast(weekday(date'1970-01-01') + 1 as bigint) as ts_isodow_epoch",
        "cast(to_date('29-Feb-2024', 'dd-MMM-yyyy') as string) as ts_parse_leap",
        "cast(timestamp_micros(-1) as string) as ts_neg1us_render",
        "date_format(timestamp'1969-12-31 23:59:59', 'yyyy-MM-dd HH:mm:ss') as ts_fmt_pre_epoch",
        "cast(cast(timestamp'1969-12-31 12:00:00' as date) as string) as ts_cast_pre_date",
        "cast(from_utc_timestamp(timestamp'2024-01-15 12:00:00', 'America/New_York') as string) as tz_futc_std",
        "cast(from_utc_timestamp(timestamp'2024-07-15 12:00:00', 'America/New_York') as string) as tz_futc_dst",
        "cast(from_utc_timestamp(timestamp'2024-03-10 06:59:59', 'America/New_York') as string) as tz_spring_before",
        "cast(from_utc_timestamp(timestamp'2024-03-10 07:00:00', 'America/New_York') as string) as tz_spring_after",
        "cast(from_utc_timestamp(timestamp'2024-11-03 05:30:00', 'America/New_York') as string) as tz_fall_first",
        "cast(from_utc_timestamp(timestamp'2024-11-03 06:30:00', 'America/New_York') as string) as tz_fall_second",
        "cast(to_utc_timestamp(timestamp'2024-01-15 07:00:00', 'America/New_York') as string) as tz_tutc_std",
        "cast(to_utc_timestamp(timestamp'2024-03-10 02:30:00', 'America/New_York') as string) as tz_tutc_gap",
        "unix_micros(to_utc_timestamp(from_utc_timestamp(timestamp'2024-03-10 07:00:00', 'America/New_York'), 'America/New_York')) as tz_roundtrip_us",
        "cast(cast(from_utc_timestamp(timestamp'2024-01-15 20:00:00', 'Asia/Tokyo') as date) as string) as tz_date_cast",
        "cast(from_utc_timestamp(timestamp'2024-01-15 12:00:00', 'Australia/Adelaide') as string) as tz_half_offset",
        "cast(from_utc_timestamp(timestamp'2024-01-15 12:00:00', 'Asia/Kathmandu') as string) as tz_q45_offset"))
  )

  /** The \s-agreement fixture: one of each character BOTH regex
    * engines class as whitespace ([ \t\n\f\r] — Java additionally
    * includes \x0B, which therefore must NOT appear here or in any
    * oracle's data; see the q_engine_parity comment).
    */
  private val WsFixture = " a\tb\nc\fd\re"

  /** xxHash64 of one 8-byte block (Spark's `XXH64.hashLong`) as a
    * generated DuckDB CTE chain — every step is unsigned-64 wrap
    * arithmetic over HUGEINT (values live in [0, 2^64); mul splits
    * the left operand in 32-bit halves so no product exceeds 2^97),
    * so the mirror is bit-exact, not approximate. One CTE per fold
    * step keeps each expression linear in size.
    */
  private def xxh64Sql(seed: Long, out: String, sfx: String): Seq[String] = {
    val M = "18446744073709551616" // 2^64
    val (p1, p2, p3, p4, p5) = ("11400714785074694791", // unsigned primes
      "14029467366897019727", "1609587929392839161",
      "9650029242287828579", "2870177450012600261")
    def mul(a: String, b: String) =
      s"((($a) % 4294967296) * ($b) + ((($a) // 4294967296) * ($b) " +
        s"% 4294967296) * 4294967296) % $M"
    def rotl(x: String, r: Int) =
      s"(($x) * ${BigInt(1) << r} + ($x) // ${BigInt(1) << (64 - r)}) % $M"
    def shr(x: String, r: Int) = s"(($x) // ${BigInt(1) << r})"
    Seq(
      s"(($seed + $p5 + 8) % $M) AS h0$sfx",
      s"(${mul("u", p2)}) AS k1a$sfx",
      s"(${rotl(s"k1a$sfx", 31)}) AS k1b$sfx",
      s"(${mul(s"k1b$sfx", p1)}) AS k1$sfx",
      s"(xor(h0$sfx, k1$sfx)) AS h1$sfx",
      s"(${rotl(s"h1$sfx", 27)}) AS h2$sfx",
      s"((${mul(s"h2$sfx", p1)} + $p4) % $M) AS h3$sfx",
      s"(xor(h3$sfx, ${shr(s"h3$sfx", 33)})) AS h4$sfx",
      s"(${mul(s"h4$sfx", p2)}) AS h5$sfx",
      s"(xor(h5$sfx, ${shr(s"h5$sfx", 29)})) AS h6$sfx",
      s"(${mul(s"h6$sfx", p3)}) AS h7$sfx",
      s"(xor(h7$sfx, ${shr(s"h7$sfx", 32)})) AS $out")
  }

  /** The IEEE CRC-32 byte table (reflected, poly 0xEDB88320) as a SQL
    * list literal — the classic table-driven fold, generated rather
    * than hand-typed.
    */
  private def crcTableSql: String =
    (0 until 256).map { i =>
      var c = i.toLong
      var k = 0
      while (k < 8) {
        c = if ((c & 1L) != 0L) (c >>> 1) ^ 0xEDB88320L else c >>> 1
        k += 1
      }
      c
    }.mkString("[", ",", "]")

  private def xxh64OracleSql: String = {
    val M = "18446744073709551616"
    var ctes = Seq(
      s"b0 AS (SELECT o_orderkey, ((o_orderkey % $M) + $M) % $M AS u " +
        "FROM orders)")
    var prev = "b0"
    for ((steps, nm) <- Seq((xxh64Sql(42, "kh", "x"), "c42"),
        (xxh64Sql(7, "khs", "y"), "c7"));
        (stp, i) <- steps.zipWithIndex) {
      val name = s"${nm}_$i"
      ctes :+= s"$name AS (SELECT *, $stp FROM $prev)"
      prev = name
    }
    def sig(v: String) =
      s"CAST(CASE WHEN $v >= 9223372036854775808 THEN $v - $M " +
        s"ELSE $v END AS BIGINT)"
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT o_orderkey, ${sig("kh")} AS key_hash,
       |  CAST(7 AS BIGINT) AS seed,
       |  ${sig("khs")} AS key_hash_seeded,
       |  CAST(((${sig("khs")} % 511) + 511) % 511 AS BIGINT) AS slot
       |FROM $prev ORDER BY o_orderkey""".stripMargin
  }

  val oracle: Map[String, String] = Map(
    // the reference's two hash primitives, mirrored bit-exactly in
    // SQL (round 12): xxHash64-of-long is a fixed ~12-step unsigned
    // fold (generated CTE chain above); CRC32 is the table-driven
    // byte fold with the table inlined as a literal
    "q_hash_xxh64" -> xxh64OracleSql,
    // BYTES-intended strlen: CRC32 folds the UTF-8 bytes of p_name
    // (Spark casts to binary); the ord(substr) byte reads rely on the
    // corpus's ASCII byte≡char identity (XXH64Sql.scala header)
    "q_hash_crc32" ->
      s"""SELECT p_partkey, xor(crc, 4294967295) AS name_crc
         |FROM (
         |  SELECT p_partkey,
         |    list_reduce(
         |      list_prepend(4294967295::BIGINT,
         |        list_transform(range(1, strlen(p_name) + 1),
         |          i -> ord(substr(p_name, i, 1))::BIGINT)),
         |      (crc, b) -> xor($crcTableSql[(xor(crc, b) & 255) + 1],
         |        crc // 256)) AS crc
         |  FROM part)
         |ORDER BY p_partkey""".stripMargin,
    "q_point_get" ->
      """SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity,
        |       l_extendedprice, l_returnflag
        |FROM lineitem WHERE l_orderkey = 42
        |ORDER BY l_linenumber, l_partkey, l_suppkey, l_extendedprice""".stripMargin,
    "q_key_range" ->
      "SELECT * FROM orders WHERE o_orderkey BETWEEN 100 AND 120 ORDER BY o_orderkey",
    "q_insert_append" ->
      """SELECT r_regionkey, r_name FROM region
        |UNION ALL SELECT * FROM (VALUES (5, 'VIRTUAL_A'), (6, 'VIRTUAL_B')) v(r_regionkey, r_name)
        |ORDER BY r_regionkey, r_name""".stripMargin,
    // the DuckDB half of the conformance row — live, not constants
    "q_engine_parity" ->
      s"""SELECT CAST(-7 // 2 AS BIGINT) AS div_neg_a,
        |  CAST(7 // -2 AS BIGINT) AS div_neg_b,
        |  CAST(-7 % 2 AS BIGINT) AS mod_neg_a,
        |  CAST(7 % -2 AS BIGINT) AS mod_neg_b,
        |  CAST(((-7 % 511) + 511) % 511 AS BIGINT) AS pmod_neg,
        |  array_to_string(string_split('', ' '), '~') AS split_empty,
        |  array_to_string(string_split('a  b', ' '), '~') AS split_adj,
        |  array_to_string(string_split('a', 'a'), '~') AS split_full,
        |  md5('héé') AS md5_nonascii,
        |  md5('') AS md5_empty,
        |  CAST(length('a😀b') AS BIGINT) AS len_supp,
        |  array_to_string(list_transform(
        |    generate_series(1, length('a😀b')),
        |    i -> substr('a😀b', i, 1)), '~') AS split_supp,
        |  CAST(round(CAST(2.5 AS DOUBLE)) AS DOUBLE) AS round_half,
        |  CAST(round(CAST(-2.5 AS DOUBLE)) AS DOUBLE) AS round_neg_half,
        |  round(CAST(2.675 AS DOUBLE), 2) AS round_shortest,
        |  round(CAST(0.125 AS DOUBLE), 2) AS round_bin_half,
        |  regexp_matches('٣', '\\d') AS re_d_unicode,
        |  regexp_matches('é', '\\w') AS re_w_unicode,
        |  regexp_matches('_', '\\w') AS re_w_underscore,
        |  regexp_extract('aaa', 'a+?', 0) AS re_lazy,
        |  regexp_extract('xaby', 'a(b|$$)', 1) AS re_alt_anchor,
        |  regexp_extract('a1b22c', '(\\d)(\\d)', 2) AS re_group2,
        |  regexp_matches('abc', '(?i)ABC') AS re_inline_ci,
        |  regexp_replace('a1b22c', '\\d+', '#', 'g') AS re_replace_all,
        |  regexp_replace('$WsFixture', '\\s+', '_', 'g') AS re_ws_core,
        |  CAST(len(regexp_extract_all('x1y22z333', '[0-9]+'))
        |    AS BIGINT) AS re_n_matches,
        |  TRY_CAST('2024-02-30' AS DATE)::VARCHAR AS ts_bad_date,
        |  TRY_CAST('2024-13-01' AS DATE)::VARCHAR AS ts_bad_month,
        |  epoch_us(TIMESTAMP '1969-12-31 23:59:59.000001') AS ts_neg_us,
        |  epoch_us(TIMESTAMP '1677-09-21 00:12:43.145224') AS ts_deep_neg_us,
        |  date_trunc('week', DATE '1969-12-28')::VARCHAR AS ts_trunc_week_pre,
        |  CAST(isodow(DATE '1970-01-01') AS BIGINT) AS ts_isodow_epoch,
        |  CAST(strptime('29-Feb-2024', '%d-%b-%Y') AS DATE)::VARCHAR
        |    AS ts_parse_leap,
        |  make_timestamp(-1)::VARCHAR AS ts_neg1us_render,
        |  strftime(TIMESTAMP '1969-12-31 23:59:59', '%Y-%m-%d %H:%M:%S')
        |    AS ts_fmt_pre_epoch,
        |  CAST(TIMESTAMP '1969-12-31 12:00:00' AS DATE)::VARCHAR
        |    AS ts_cast_pre_date,
        |  timezone('America/New_York', TIMESTAMP '2024-01-15 12:00:00'
        |    AT TIME ZONE 'UTC')::VARCHAR AS tz_futc_std,
        |  timezone('America/New_York', TIMESTAMP '2024-07-15 12:00:00'
        |    AT TIME ZONE 'UTC')::VARCHAR AS tz_futc_dst,
        |  timezone('America/New_York', TIMESTAMP '2024-03-10 06:59:59'
        |    AT TIME ZONE 'UTC')::VARCHAR AS tz_spring_before,
        |  timezone('America/New_York', TIMESTAMP '2024-03-10 07:00:00'
        |    AT TIME ZONE 'UTC')::VARCHAR AS tz_spring_after,
        |  timezone('America/New_York', TIMESTAMP '2024-11-03 05:30:00'
        |    AT TIME ZONE 'UTC')::VARCHAR AS tz_fall_first,
        |  timezone('America/New_York', TIMESTAMP '2024-11-03 06:30:00'
        |    AT TIME ZONE 'UTC')::VARCHAR AS tz_fall_second,
        |  timezone('UTC', TIMESTAMP '2024-01-15 07:00:00'
        |    AT TIME ZONE 'America/New_York')::VARCHAR AS tz_tutc_std,
        |  timezone('UTC', TIMESTAMP '2024-03-10 02:30:00'
        |    AT TIME ZONE 'America/New_York')::VARCHAR AS tz_tutc_gap,
        |  epoch_us(timezone('UTC',
        |    timezone('America/New_York', TIMESTAMP '2024-03-10 07:00:00'
        |      AT TIME ZONE 'UTC')
        |    AT TIME ZONE 'America/New_York')) AS tz_roundtrip_us,
        |  CAST(timezone('Asia/Tokyo', TIMESTAMP '2024-01-15 20:00:00'
        |    AT TIME ZONE 'UTC') AS DATE)::VARCHAR AS tz_date_cast,
        |  timezone('Australia/Adelaide', TIMESTAMP '2024-01-15 12:00:00'
        |    AT TIME ZONE 'UTC')::VARCHAR AS tz_half_offset,
        |  timezone('Asia/Kathmandu', TIMESTAMP '2024-01-15 12:00:00'
        |    AT TIME ZONE 'UTC')::VARCHAR AS tz_q45_offset""".stripMargin,
    // BYTES-intended strlen: the reference's Text cap is 1024 BYTES
    // (types.rs:16) and the Spark side computes octet_length
    "q_text_cap" ->
      """SELECT doc_id, n_chars, CAST(strlen(text) AS BIGINT) AS text_bytes,
        |       strlen(text) <= 1024 AS fits_potpot_text
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_row_cap" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_fields,
        |  len(string_split(text, ' ')) <= 64 AS fits_potpot_row
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_variant_decode" ->
      """WITH v AS (
        |  SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 3 = 0
        |           THEN json_object('tag', 1, 'i', o_orderkey)
        |         WHEN o_orderkey % 3 = 1
        |           THEN json_object('tag', 2, 's', o_orderstatus)
        |         ELSE json_object('tag', 9) END AS var
        |  FROM orders)
        |SELECT o_orderkey,
        |  CAST(json_extract(var, '$.tag') AS INT) AS tag,
        |  CAST(json_extract(var, '$.i') AS BIGINT) AS i,
        |  json_extract_string(var, '$.s') AS s,
        |  CAST(json_extract(var, '$.tag') AS INT) IN (1, 2) AS valid
        |FROM v ORDER BY o_orderkey""".stripMargin
  )
}
