package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Exact-expected-value specs on sf0.001 — mirrors the reference's
  * golden-byte test style (reference `src/types.rs:182-196` pins exact
  * encodings; here we pin exact query outputs).
  */
class CoreSpec extends SparkSpec {
  test("q_point_get returns the exact lineitems of order 42") {
    val rows = run("q_point_get").collect()
    assert(rows.length >= 1)
    assert(rows.map(_.getLong(0)).toSet == Set(42L))
    assert(rows.head == Row(42L, 1, 76L, 5L, 18.0, 101193.92, "R"))
  }

  test("q_key_range covers exactly keys 100..120") {
    val keys = run("q_key_range").select("o_orderkey").collect().map(_.getLong(0))
    assert(keys.toSeq == (100L to 120L))
  }

  test("q_insert_append adds the two virtual rows after the base table") {
    val rows = run("q_insert_append").collect()
    assert(rows.length == 7) // 5 regions + 2 inserted
    assert(rows.map(_.getString(1)).count(_.startsWith("VIRTUAL")) == 2)
  }

  test("q_text_cap flags every sf0.001 document within potpot's 1024-byte Text cap or not") {
    val df = run("q_text_cap")
    assert(df.count() == 500)
    val viol = df.filter(col("fits_potpot_text") =!= (col("text_bytes") <= 1024)).count()
    assert(viol == 0)
  }

  test("q_row_cap exercises both sides of the 64-column row width cap") {
    val df = run("q_row_cap")
    assert(df.filter(col("fits_potpot_row")).count() > 0)
    assert(df.filter(!col("fits_potpot_row")).count() > 0)
    assert(df.filter(col("fits_potpot_row") =!= (col("n_fields") <= 64)).count() == 0)
  }

  test("q_variant_decode validates tags and types payloads per arm") {
    val df = run("q_variant_decode")
    // valid iff tag in {1,2}; tag=9 rows survive decode with valid=false
    assert(df.filter(col("valid") =!= col("tag").isin(1, 2)).count() == 0)
    assert(df.filter(col("tag") === 9).count() > 0)
    // payload columns are populated exactly per the tag arm
    assert(df.filter(col("tag") === 1 && (col("i").isNull || col("s").isNotNull)).count() == 0)
    assert(df.filter(col("tag") === 2 && (col("s").isNull || col("i").isNotNull)).count() == 0)
  }

  test("xxhash64 and crc32 are deterministic across runs") {
    val a = run("q_hash_xxh64").collect()
    val b = run("q_hash_xxh64").collect()
    assert(a.sameElements(b))
    val c = run("q_hash_crc32").limit(1).collect()
    assert(c.head.getLong(1) >= 0) // crc32 is unsigned 32-bit in a long
  }
}

class RelationalSpec extends SparkSpec {
  test("q1_pricing_summary matches golden sf0.001 aggregates") {
    val got = run("q1_pricing_summary")
      .select("l_returnflag", "l_linestatus", "sum_qty", "count_order").collect()
    val exp = Seq(
      Row("A", "F", 14240.0, 556L), Row("A", "O", 14019.0, 570L),
      Row("N", "F", 17019.0, 650L), Row("N", "O", 14060.0, 567L),
      Row("R", "F", 14443.0, 582L), Row("R", "O", 14115.0, 564L))
    assert(got.toSeq == exp)
  }

  test("q_join_broadcast matches golden per-region rollup") {
    val got = run("q_join_broadcast").collect()
    val exp = Seq(
      Row("AFRICA", 33L, 143200.69), Row("AMERICA", 33L, 157116.48),
      Row("ASIA", 26L, 109687.31), Row("EUROPE", 24L, 92976.8),
      Row("MIDDLE EAST", 34L, 149040.44))
    assert(got.toSeq == exp)
  }

  test("semi + anti join partition the customer table") {
    val semi = run("q_join_semi").count()
    val anti = run("q_join_anti").count()
    val all = Tables.customer(spark, sf).count()
    assert(semi + anti == all)
  }

  test("full outer join loses no nation keys") {
    val nk = run("q_join_full")
    val custNations = Tables.customer(spark, sf)
      .select(col("c_nationkey")).distinct().count()
    assert(nk.count() >= custNations)
    assert(nk.filter(col("n_cust") === 0 && col("n_supp") === 0).count() == 0)
  }

  test("rollup has leaf+subtotal+grand-total rows") {
    val rows = run("q_rollup").collect()
    assert(rows.length == 10) // 6 leaves + 3 subtotals + 1 grand total
    val grand = rows.filter(_.getLong(2) == 3L)
    assert(grand.length == 1 && grand.head.getLong(3) == 6000L)
  }

  test("set ops are consistent: except + intersect = customer nation set") {
    val inter = run("q_set_intersect").count()
    val exc = run("q_set_except").count()
    val custN = Tables.customer(spark, sf).select("c_nationkey").distinct().count()
    assert(inter + exc == custN)
  }

  test("top-k per group never exceeds k and ranks start at 1") {
    val df = run("q_topk_per_group")
    assert(df.filter(col("rk") > 3).count() == 0)
    val perGroup = df.groupBy("o_custkey").agg(min("rk").as("m"))
    assert(perGroup.filter(col("m") =!= 1).count() == 0)
  }
}

class WindowSpec extends SparkSpec {
  test("row_number is dense from 1 within each customer") {
    val df = run("q_window_rank")
    val bad = df.groupBy("o_custkey")
      .agg(count(lit(1)).as("n"), max("rn").as("mx"), min("rn").as("mn"))
      .filter(col("mx") =!= col("n") || col("mn") =!= 1)
    assert(bad.count() == 0)
  }

  test("running total is monotone non-decreasing per customer") {
    val df = run("q_window_running")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    val viol = df.withColumn("prev", lag("run_total", 1).over(w))
      .filter(col("prev").isNotNull && col("run_total") < col("prev"))
    assert(viol.count() == 0)
  }
}

class MergeSpec extends SparkSpec {
  test("merge upsert partitions rows into update/insert/keep exactly") {
    val base = Tables.orders(SparkSpec.spark, SparkSpec.sf)
    val nBase = base.count()
    val nUpd = base.filter(col("o_orderkey") % 100 === 0).count()
    val nIns = base.filter(col("o_orderkey") % 1000 === 500).count()
    val out = run("q_merge_upsert")
    assert(out.count() == nBase + nIns)
    val byAction = out.groupBy("action").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byAction("update") == nUpd)
    assert(byAction("insert") == nIns)
    assert(byAction("keep") == nBase - nUpd)
    // every updated total is exactly 1.05x its base price
    val updated = out.filter(col("action") === "update")
      .join(base, Seq("o_orderkey"))
      .withColumn("expected",
        (col("o_totalprice").cast("decimal(18,2)") *
          expr("CAST(1.05 AS DECIMAL(3,2))")).cast("double"))
      .filter(col("total") =!= col("expected"))
    assert(updated.count() == 0)
  }
}

class RangeJoinRuleSpec extends SparkSpec {
  test("binned range join matches the nested-loop marker semantics row-for-row") {
    import org.apache.spark.sql.functions.expr
    graft.plans.RangeJoin.register(spark)
    import SparkSpec.spark.implicits._
    val b = Seq((0.0, 40.0, "b0"), (40.0, 90.0, "b1"), (90.0, 1000.0, "b2"))
      .toDF("lo", "hi", "band")
    val ev = Tables.events(spark, sf).select("event_id", "value")
    val binned = ev.join(b, expr("graft_range_join(value, lo, hi, 25.0D)"))
      .select("event_id", "band").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val exact = ev.join(b, col("value") >= col("lo") && col("value") < col("hi"))
      .select("event_id", "band").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(binned == exact)
  }

  test("rule lowers the marker join to an equi-join: no nested loop in the plan") {
    val p = run("q_range_join_binned").queryExecution
      .explainString(org.apache.spark.sql.execution.SimpleMode)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("graft_bin_p"), p)
    assert(p.contains("sequence("), p)
  }

  test("empty and inverted band intervals match nothing instead of crashing the rewrite") {
    import org.apache.spark.sql.functions.expr
    graft.plans.RangeJoin.register(spark)
    import SparkSpec.spark.implicits._
    // lo > hi: Sequence(start > stop, step +1) would throw unguarded
    val b = Seq((90.0, 40.0, "inverted"), (50.0, 50.0, "empty"), (0.0, 99.0, "ok"))
      .toDF("lo", "hi", "band")
    val got = Tables.events(spark, sf).select("event_id", "value")
      .join(b, expr("graft_range_join(value, lo, hi, 25.0D)"))
      .groupBy("band").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!got.contains("inverted") && !got.contains("empty"))
    assert(got("ok") > 0)
  }

  test("non-positive and non-finite bin widths are rejected at analysis") {
    import org.apache.spark.sql.functions.expr
    graft.plans.RangeJoin.register(spark)
    import SparkSpec.spark.implicits._
    val b = Seq((0.0, 90.0, "b")).toDF("lo", "hi", "band")
    val ev = Tables.events(spark, sf).select("event_id", "value")
    Seq("0.0D", "-5.0D", "cast('NaN' as double)").foreach { w =>
      val e = intercept[Exception] {
        ev.join(b, expr(s"graft_range_join(value, lo, hi, $w)")).collect()
      }
      assert(e.getMessage.contains("finite positive"), s"width=$w: ${e.getMessage}")
    }
  }

  test("without the rule the marker still evaluates correctly (fallback path)") {
    import org.apache.spark.sql.functions.expr
    graft.plans.RangeJoin.register(spark)
    // strip the rule, keep the function: exact nested-loop semantics
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations = Nil
      import SparkSpec.spark.implicits._
      val b = Seq((0.0, 90.0, "lo"), (90.0, 1000.0, "hi")).toDF("lo", "hi", "band")
      val got = Tables.events(spark, sf)
        .join(b, expr("graft_range_join(value, lo, hi, 50.0D)"))
        .groupBy("band").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val want = Tables.events(spark, sf)
        .join(b, col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("band").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == want)
    } finally spark.experimental.extraOptimizations = saved
  }
}

class TopKAggSpec extends SparkSpec {
  test("bounded-heap top-k agrees with the window-rank form exactly") {
    import org.apache.spark.sql.expressions.Window
    val got = run("q_topk_agg").collect().toSeq
    val w = Window.partitionBy(col("event_type"))
      .orderBy(col("value").desc, col("event_id"))
    val want = Tables.events(spark, sf)
      .select(col("event_type"), col("value"), col("event_id"))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 5)
      .select(col("event_type"), col("rk"), col("value"), col("event_id"))
      .orderBy(col("event_type"), col("rk"))
      .collect().toSeq
    assert(got == want)
  }

  test("merge keeps the bound: buffers never exceed k") {
    val agg = new graft.functions.TopKAggregator(3)
    val big = (1L to 100L).map(i => (i.toDouble, i))
    val merged = agg.merge(
      big.take(50).foldLeft(agg.zero)(agg.reduce),
      big.drop(50).foldLeft(agg.zero)(agg.reduce))
    assert(merged.length == 3)
    assert(merged == Seq((100.0, 100L), (99.0, 99L), (98.0, 98L)))
  }
}

/** Reference parity: empty-input semantics (reference empty_records /
  * empty_slotted_page tests) — empty relations keep their schema and
  * flow through scan/agg/join/sink without error.
  */
class EmptyInputSpec extends SparkSpec {
  private def empty = Tables.orders(spark, sf).filter(col("o_orderkey") < 0)

  test("empty scan keeps schema, count 0") {
    assert(empty.count() == 0)
    assert(empty.schema == Tables.orders(spark, sf).schema)
  }

  test("grouped agg over empty input yields zero groups; global agg one row") {
    assert(empty.groupBy("o_orderstatus").count().count() == 0)
    val g = empty.agg(sum(col("o_totalprice")).as("s"), count(lit(1)).as("n")).head
    assert(g.isNullAt(0) && g.getLong(1) == 0L)
  }

  test("joins against empty input are empty, schema intact") {
    val e = empty
    val j = e.join(Tables.customer(spark, sf),
      e("o_custkey") === col("c_custkey"))
    assert(j.count() == 0)
    assert(j.schema.fieldNames.contains("c_name"))
  }

  test("empty relation round-trips through a parquet sink with schema") {
    val dir = SessionResources.scratchDir(spark, "empty")
    empty.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.count() == 0)
    assert(back.schema == empty.schema)
  }
}

class MinHashEstimateSpec extends SparkSpec {
  test("16-hash signature agreement estimates jaccard within sampling error") {
    graft.functions.HashFunctions.register(spark)
    val sigs = Tables.documents(spark, sf)
      .select(col("doc_id"), expr("minhash16(shingles3(split(text, ' ')))").as("sig"))
    val pairs = run("q_dedup_ngram_jaccard").select("da", "db", "jaccard")
    val est = pairs
      .join(sigs.select(col("doc_id").as("da"), col("sig").as("sa")), "da")
      .join(sigs.select(col("doc_id").as("db"), col("sig").as("sb")), "db")
      .withColumn("est", expr(
        "aggregate(zip_with(sa, sb, (x, y) -> IF(x = y, 1, 0)), 0, (a, v) -> a + v) / 16.0D"))
      .select(col("jaccard"), col("est")).collect()
    assert(est.nonEmpty)
    val errs = est.map(r => math.abs(r.getDouble(0) - r.getDouble(1)))
    // per-pair: 4-sigma of sqrt(j(1-j)/16) <= 0.5; mean error much tighter
    assert(errs.forall(_ <= 0.5), errs.max.toString)
    assert(errs.sum / errs.length <= 0.15, (errs.sum / errs.length).toString)
  }
}

class CdcDiffSpec extends SparkSpec {
  test("cdc diff partitions changes into insert/update/delete with exact counts") {
    val base = Tables.orders(SparkSpec.spark, SparkSpec.sf)
    val nDel = base.filter(col("o_orderkey") % 97 === 0).count()
    val nUpd = base.filter(col("o_orderkey") % 100 === 0 &&
      col("o_orderkey") % 97 =!= 0).count()
    val nIns = base.filter(col("o_orderkey") % 1000 === 500).count()
    val by = run("q_cdc_diff").groupBy("change").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(by.getOrElse("delete", 0L) == nDel)
    assert(by.getOrElse("update", 0L) == nUpd)
    assert(by.getOrElse("insert", 0L) == nIns)
    // deltas only: unchanged rows never enter the log
    assert(by.values.sum == nDel + nUpd + nIns)
  }
}
