package graft

import graft.operators.{Aggregates, Skew}
import graft.sources.JsonEnvelope
import graft.streaming.StatefulOps
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.Files

class ScaleOpsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedSumCount equals the plain aggregation") {
    val df = (1 to 5000).map(i => (if (i % 100 == 0) "cold" + i else "HOT", i.toLong, i.toDouble))
      .toDF("k", "id", "v") // 4950 rows on one hot key
    val salted = Skew.saltedSumCount(df, Seq("k"), "v", "id", saltBuckets = 16)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    val plain = df.groupBy("k").agg(sum("v"), count(lit(1)))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(salted == plain)
  }

  test("saltedJoin equals the plain join (inner and left), and spreads the hot key") {
    // 4950 rows on one hot key joined against a 120-row dim
    val big = (1 to 5000)
      .map(i => (if (i % 100 == 0) "cold" + (i % 7) else "HOT", i.toLong))
      .toDF("k", "id")
    val small = (0 to 6).flatMap(j => Seq(("cold" + j, s"dim$j"), ("HOT", "dimHot")))
      .toDF("k", "name").where(col("name") =!= "dim5") // leave one big key unmatched
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).sortBy(_.mkString("|")).toSeq

    val inner = Skew.saltedJoin(big, small, Seq("k"), "id", saltBuckets = 8)
    assert(canon(inner) == canon(big.join(small, Seq("k"), "inner")))
    val left = Skew.saltedJoin(big, small, Seq("k"), "id", saltBuckets = 8, joinType = "left")
    assert(canon(left) == canon(big.join(small, Seq("k"), "left")))

    // the skew claim itself: the hot key's rows occupy ALL salt buckets
    // (4950 distinct ids hash across 8 buckets), so no single reducer
    // sees the whole key
    val saltsUsed = big.where(col("k") === "HOT")
      .select(pmod(hash(col("id")), lit(8)).as("s")).distinct().count()
    assert(saltsUsed == 8, s"hot key covered only $saltsUsed/8 salt buckets")
  }

  test("shuffleWidthFor derives width from bytes, floored at cores, capped") {
    // the r8-verdict gap-1 rule: partitions scale with DATA — one per
    // 16 MiB of input (the measured blowup calibration, SCALE.md r9) —
    // never below the core count, never unbounded
    assert(GraftSession.shuffleWidthFor(0L, 32) == 32)
    assert(GraftSession.shuffleWidthFor(1L << 30, 32) == 64)
    assert(GraftSession.shuffleWidthFor(100L << 30, 32) == 4096) // capped
    assert(GraftSession.shuffleWidthFor(Long.MaxValue / 4, 32) == 4096)
    assert(GraftSession.shuffleWidthFor((16L << 20) + 1, 1) == 2) // ceil, not floor
    // the blind-default AQE pre-coalesce ceiling (no size stated): a
    // modest multiple of cores — fan-out has a measured per-shuffle cost
    assert(GraftSession.initialPartitionsFor(32) == 128)
    assert(GraftSession.initialPartitionsFor(64) == 256)
    // exactly 4× — no hidden absolute floor: a small-core user-facing
    // session must not pay an unmeasured wide-bucket tax (ADVICE r9)
    assert(GraftSession.initialPartitionsFor(4) == 16)
    intercept[IllegalArgumentException] {
      GraftSession.shuffleWidthFor(1L, 32, maxParts = 8) // cap below floor
    }
  }

  test("sizeShuffleFor moves the live floor and keeps the AQE ceiling wide") {
    // the diagnosis pin deliberately overrides sizeShuffleFor, so this
    // test is only meaningful when the pin is absent (ADVICE r9)
    assume(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").isEmpty,
      "SPARK_GRAFT_SHUFFLE_PARTITIONS pin active — sized-width assertions skipped")
    val before = spark.conf.get("spark.sql.shuffle.partitions")
    val beforeInit = spark.conf.getOption(
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
    try {
      val w = GraftSession.sizeShuffleFor(spark, 10L << 30) // 10 GiB
      assert(w == 640 &&
        spark.conf.get("spark.sql.shuffle.partitions") == "640")
      val init = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
      assert(init == w, s"one width, both knobs: got ceiling $init, floor $w")
      // and the width scales DOWN with small data: a bench-sized
      // directory collapses the fan-out to the core floor (blind-wide
      // buckets measurably tax every small shuffle — the rejected-4MiB
      // measurement in SCALE.md round 9)
      val cores = spark.sparkContext.defaultParallelism
      val w2 = GraftSession.sizeShuffleFor(spark, 17L << 20) // 17 MiB
      val init2 = spark.conf.get(
        "spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
      assert(w2 == cores && init2 == cores,
        s"small input should collapse to the core floor, got ($w2, $init2)")
    } finally {
      spark.conf.set("spark.sql.shuffle.partitions", before)
      beforeInit match {
        case Some(v) => spark.conf.set(
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum", v)
        case None => spark.conf.unset(
          "spark.sql.adaptive.coalescePartitions.initialPartitionNum")
      }
    }
  }

  test("AQE is live: post-shuffle partitions coalesce under the session contract") {
    // the spec session is built through GraftSession.configure (SparkSpec),
    // so this gates the CONTRACT's adaptive flags, not Spark defaults: a
    // tiny 8-group aggregation over the configured shuffle partitions must
    // come back coalesced once AQE finalizes the plan
    assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled") == "true")
    val df = spark.range(100000).groupBy(pmod(col("id"), lit(8)).as("k")).count()
    df.collect() // materialize so the adaptive plan is final
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead"), s"adaptive plan missing:\n$plan")
    val parts = df.rdd.getNumPartitions
    val configured = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(parts < configured, s"no coalescing: $parts vs $configured")
  }

  test("bucketed tables join without a shuffle") {
    val dir = Files.createTempDirectory("graft-bucketed").toString
    val facts = (1L to 1000L).map(i => (i % 50, i, i * 2.0)).toDF("key", "id", "v")
    val dims = (0L until 50L).map(i => (i, s"dim_$i")).toDF("key", "name")
    graft.operators.Layout.writeBucketed(facts, "graft_facts_b", s"$dir/graft_facts_b", 8, Seq("key"))
    graft.operators.Layout.writeBucketed(dims, "graft_dims_b", s"$dir/graft_dims_b", 8, Seq("key"))
    try {
      // disable auto-broadcast so the join would otherwise shuffle both sides
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val joined = spark.table("graft_facts_b").join(spark.table("graft_dims_b"), "key")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$plan")
      assert(joined.count() == 1000)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS graft_facts_b")
      spark.sql("DROP TABLE IF EXISTS graft_dims_b")
    }
  }

  test("streaming dedup drops cross-batch duplicates within the watermark") {
    val root = Files.createTempDirectory("graft-sdedup").toString
    val raw = s"$root/raw"; Files.createDirectories(java.nio.file.Paths.get(raw))
    def envelope(ts: String, temp: Double): String =
      s"""{"readings": [{"station_id":"WS001","city":"X","country":"India","latitude":1.0,
         |"longitude":1.0,"timestamp":"$ts","temperature_celsius":$temp,"humidity_percent":50.0,
         |"pressure_hpa":1000.0,"wind_speed_kmh":5.0,"wind_direction":"N","precipitation_mm":0.0,
         |"visibility_km":9.0,"uv_index":3,"weather_condition":"Cloudy","heat_index_celsius":$temp}]}"""
        .stripMargin.replaceAll("\n", "")
    def run(): Unit = {
      val q = StatefulOps.dedupStream(JsonEnvelope.readStream(spark, raw))
        .writeStream.format("parquet")
        .option("path", s"$root/out").option("checkpointLocation", s"$root/ckpt")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination(60000)
    }
    Files.writeString(java.nio.file.Paths.get(raw, "b1.json"), envelope("2026-08-12T10:00:00", 30.0))
    run()
    // same (station, timestamp) again in a LATER batch, different payload
    Files.writeString(java.nio.file.Paths.get(raw, "b2.json"), envelope("2026-08-12T10:00:00", 99.0))
    Files.writeString(java.nio.file.Paths.get(raw, "b3.json"), envelope("2026-08-12T10:05:00", 31.0))
    run()
    val out = spark.read.parquet(s"$root/out")
    assert(out.count() == 2) // duplicate dropped across micro-batches
    assert(out.where(col("temperature_celsius") === 99.0).isEmpty)
  }

  test("keySkewReport ranks hot keys with exact shares and ratio-to-mean") {
    // a×6, b×2, c×2 → total 10, 3 keys, mean 10/3
    val df = (Seq.fill(6)("a") ++ Seq.fill(2)("b") ++ Seq.fill(2)("c")).toDF("k")
    val rows = Skew.keySkewReport(df, "k", topK = 2)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4))).sortBy(_._1)
    assert(rows.length == 2) // topK honored
    assert(rows(0) == ((1L, "a", 6L, 60.0, 1.8)))  // 6*3/10
    assert(rows(1) == ((2L, "b", 2L, 20.0, 0.6)))  // count tie b/c → key asc
  }

  test("keySkewReport top-k collapses to TakeOrderedAndProject, totals ride a broadcast") {
    val df = spark.range(100).selectExpr("CAST(id % 7 AS STRING) AS k")
    val plan = Skew.keySkewReport(df, "k", topK = 3)
      .queryExecution.executedPlan.toString
    // empty-partition window + rank filter → LimitPushDownThroughWindow
    // rewrites to a GLOBAL top-k (per-partition heaps, single tiny merge)
    // — stronger than the per-group WindowGroupLimit contract
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"), plan)
  }
}
