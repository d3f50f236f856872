package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.Tables

class WarehouseSpec extends SparkSpec {
  import spark.implicits._

  private val d = "/root/testdata/sf0.001"

  test("q49 pivot cells equal the long-form groupBy the wide table reshapes") {
    val wide = Warehouse.q49Pivot(spark, d)
      .as[(String, Option[Long], Option[Long], Option[Long])].collect()
      .map(r => r._1 -> Map("A" -> r._2, "N" -> r._3, "R" -> r._4)).toMap
    val long = Tables.lineitem(spark, d)
      .groupBy("l_linestatus", "l_returnflag")
      .agg(sum($"l_quantity".cast("long")).as("q"))
      .as[(String, String, Long)].collect()
    assert(long.nonEmpty)
    long.foreach { case (status, flag, q) =>
      assert(wide(status)(flag).contains(q), s"cell ($status,$flag)")
    }
    // combos absent from the long form must be NULL, not 0, in the wide form
    val present = long.map(r => (r._1, r._2)).toSet
    wide.foreach { case (status, cells) =>
      cells.foreach { case (flag, v) =>
        if (!present((status, flag))) assert(v.isEmpty, s"($status,$flag) should be null")
      }
    }
  }

  test("q51 cube: grand-total row equals the table; level sums are consistent") {
    val rows = Warehouse.q51Cube(spark, d)
      .as[(String, String, Long, Long, Long)].collect()
    val total = Tables.lineitem(spark, d).count()
    val grand = rows.filter(_._3 == 3L)
    assert(grand.length == 1 && grand.head._4 == total)
    // every rollup level re-adds to the same grand totals
    Seq(0L, 1L, 2L).foreach { gid =>
      val level = rows.filter(_._3 == gid)
      assert(level.map(_._4).sum == total, s"gid=$gid row counts")
      assert(level.map(_._5).sum == grand.head._5, s"gid=$gid qty sums")
    }
  }

  test("q50 quartiles equal the interpolation formula on the sorted group") {
    val got = Warehouse.q50Percentile(spark, d)
      .as[(String, Long, Double, Double, Double)].collect()
      .map(r => r._1 -> (r._3, r._4, r._5)).toMap
    val vals = Tables.lineitem(spark, d)
      .filter($"l_returnflag" === "A").select($"l_quantity")
      .as[Double].collect().sorted
    def pct(p: Double): Double = {
      val pos = p * (vals.length - 1)
      val lo = pos.toInt
      if (lo == vals.length - 1) vals(lo)
      else vals(lo) + (pos - lo) * (vals(lo + 1) - vals(lo))
    }
    assert(got("A") == ((pct(0.25), pct(0.5), pct(0.75))), s"got ${got("A")}")
  }

  test("q57 argmax agrees with the window-rank formulation and is tie-safe") {
    val viaAgg = Warehouse.q57ArgMax(spark, d)
      .select($"c_mktsegment", $"top_name").as[(String, String)].collect().toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("c_mktsegment").orderBy($"c_acctbal".desc, $"c_custkey".desc)
    val viaWindow = Tables.customer(spark, d)
      .withColumn("rn", row_number().over(w)).filter($"rn" === 1)
      .select($"c_mktsegment", $"c_name").as[(String, String)].collect().toMap
    assert(viaAgg == viaWindow)
  }

  test("q54 json extraction equals a regex parse of the same props") {
    val viaJson = Tables.events(spark, d)
      .select(get_json_object($"props", "$.k").cast("long").as("k"))
      .agg(sum("k"), count("k")).as[(Long, Long)].head()
    val viaRegex = Tables.events(spark, d)
      .select(regexp_extract($"props", """"k":\s*(\d+)""", 1).cast("long").as("k"))
      .agg(sum("k"), count("k")).as[(Long, Long)].head()
    assert(viaJson == viaRegex && viaJson._2 > 0)
  }

  test("q56 rolling frame matches a brute-force recomputation for one user") {
    val rows = Warehouse.q56Rolling(spark, d)
      .filter($"user_id" === 3).orderBy("event_id")
      .as[(Long, Long, Long, Double, Double)].collect()
    assume(rows.nonEmpty, "fixture has no user 3 below the filter")
    val raw = Tables.events(spark, d).filter($"user_id" === 3)
      .select($"ts", $"event_id", $"value")
      .as[(java.sql.Timestamp, Long, Double)].collect()
      .sortBy(r => (r._1.getTime, r._2))
    raw.zipWithIndex.foreach { case ((_, eid, _), i) =>
      val frame = raw.slice(math.max(0, i - 4), i + 1).map(_._3)
      // mirror dec(): cast double->decimal(38,10) rounds the shortest-
      // decimal rendering (what BigDecimal(Double) parses) to scale 10
      val sumExact = frame
        .map(v => BigDecimal(v).setScale(10, BigDecimal.RoundingMode.HALF_UP)).sum
      val got = rows.find(_._2 == eid).get
      assert(got._3 == frame.length, s"roll_n at $eid")
      assert(got._4 == (sumExact.setScale(2, BigDecimal.RoundingMode.HALF_UP)).toDouble,
        s"roll_sum at $eid")
    }
  }

  test("q59 sketches stay inside their error bounds and flags are all true") {
    val out = Warehouse.q59Sketches(spark, d)
      .as[(String, Long, Double, Boolean, Boolean)].collect()
    assert(out.nonEmpty)
    out.foreach { case (flag, _, _, acdOk, ap50Ok) =>
      assert(acdOk, s"approx_count_distinct out of 5% bound for $flag")
      assert(ap50Ok, s"approx_percentile off exact median by >1.0 for $flag")
    }
    // tighter audit than the query's own 5% flag: measure the actual HLL++
    // relative error at rsd=0.01 directly
    val errs = Tables.lineitem(spark, d)
      .groupBy("l_returnflag")
      .agg(countDistinct($"l_orderkey").as("exact"),
        approx_count_distinct($"l_orderkey", 0.01).as("acd"))
      .select($"l_returnflag",
        (abs($"acd" - $"exact") / $"exact").as("rel_err"))
      .as[(String, Double)].collect()
    errs.foreach { case (flag, e) =>
      assert(e < 0.05, s"HLL++ rel err $e for $flag")
    }
  }

  test("q60 bucketed join plan has no Exchange on either join input") {
    val out = Warehouse.q60BucketedJoin(spark, d)
    val plan = out.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"bucketed join must not re-shuffle its inputs:\n$plan")
    // and it equals the shuffling formulation over the raw files
    val raw = Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d), $"l_orderkey" === $"o_orderkey")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_lines"),
        sum($"l_quantity".cast("long")).as("sum_qty"))
      .orderBy("o_orderpriority")
      .as[(String, Long, Long)].collect().toSeq
    val got = out.select($"o_orderpriority", $"n_lines", $"sum_qty")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == raw)
  }

  test("q60 completed bucketed layout is REUSED by a fresh catalog, still exchange-free") {
    // Build (or reuse) the layout, then erase the catalog metadata while
    // keeping the published directory — exactly what a fresh JVM sees
    // over a warehouse a previous process populated (the table is
    // registered EXTERNAL, so DROP keeps the files).
    Warehouse.q60BucketedJoin(spark, d).write.format("noop").mode("overwrite").save()
    val liTag = graft.sources.Layouts.srcTag(spark, d, "lineitem")
    val oTag = graft.sources.Layouts.srcTag(spark, d, "orders")
    val wh = spark.conf.get("spark.sql.warehouse.dir")
    val fs = new org.apache.hadoop.fs.Path(wh)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq(s"lineitem_v3_$liTag", s"orders_q60_$oTag").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS graft_bucketed.$t")
      val loc = new org.apache.hadoop.fs.Path(s"$wh/graft_bucketed.db/$t/_SUCCESS")
      assert(fs.exists(loc), s"published layout must survive a metadata drop: $loc")
    }
    val out = Warehouse.q60BucketedJoin(spark, d) // must register-over, not rebuild
    val plan = out.queryExecution.executedPlan.toString()
    assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
      !plan.contains("Exchange hashpartitioning(o_orderkey"),
      s"reused external layout must keep the exchange-free join:\n$plan")
    assert(out.count() == 5)
  }

  test("q76 snapshot diff classifies all four categories on a crafted log") {
    // u1 unchanged (only pre-T1 activity), u2 changed (later event),
    // u3 removed (tombstoned after T1), u4 added (first event after T1),
    // u5 never visible (tombstoned before T1, nothing after)
    val t = (x: String) => java.sql.Timestamp.valueOf(x)
    val log = Seq(
      (1L, "click", t("2024-01-10 00:00:00"), 100L, 1.0),
      (2L, "click", t("2024-01-10 00:00:00"), 101L, 1.0),
      (2L, "purchase", t("2024-01-20 00:00:00"), 102L, 9.0),
      (3L, "click", t("2024-01-10 00:00:00"), 103L, 1.0),
      (3L, "error", t("2024-01-21 00:00:00"), 104L, 0.0),
      (4L, "click", t("2024-01-22 00:00:00"), 105L, 1.0),
      (5L, "error", t("2024-01-09 00:00:00"), 106L, 0.0))
      .toDF("user_id", "event_type", "ts", "event_id", "value")
    val got = Warehouse.snapshotDiff(log, "2024-01-15 00:00:00")
      .as[(String, Long)].collect().toMap
    assert(got == Map("unchanged" -> 1L, "changed" -> 1L,
      "removed" -> 1L, "added" -> 1L))
  }

  test("q58 forward as-of: every click preserved; matched values are future purchases") {
    val e = Tables.events(spark, d)
    val out = Warehouse.q58AsofForward(spark, d)
    assert(out.count() == e.filter($"event_type" === "click").count())
    // spot-audit: each matched value equals the min-ts purchase >= click ts
    val purchases = e.filter($"event_type" === "purchase")
      .select($"user_id", $"ts", $"value")
      .as[(Long, java.sql.Timestamp, Double)].collect()
      .groupBy(_._1)
    val clicks = e.filter($"event_type" === "click")
      .select($"event_id", $"user_id", $"ts")
      .as[(Long, Long, java.sql.Timestamp)].collect().take(200)
    val got = out.select($"event_id", $"next_purchase_value")
      .as[(Long, Option[Double])].collect().toMap
    clicks.foreach { case (eid, uid, ts) =>
      val expect = purchases.getOrElse(uid, Array.empty)
        .filter(p => !p._2.before(ts))
        .sortBy(p => (p._2.getTime, p._2.getNanos)).headOption.map(_._3)
      assert(got(eid) == expect, s"click $eid")
    }
  }

  test("q86 rolling outliers: audit equals a brute-force window replay") {
    val out = Warehouse.q86RollingOutliers(spark, d)
      .as[(String, Long, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    val rows = Tables.events(spark, d)
      .select($"user_id", $"event_id", expr("unix_micros(ts)").as("us"),
        $"event_type", round($"value" * 100, 0).cast("long").as("x"))
      .as[(Long, Long, Long, String, Long)].collect()
    val expected = rows.groupBy(_._1).toSeq.flatMap { case (_, evs) =>
      val ordered = evs.sortBy(e => (e._3, e._2))
      ordered.zipWithIndex.map { case ((_, _, _, et, x), i) =>
        val win = ordered.slice(math.max(0, i - 24), i + 1).map(_._5)
        val n = BigInt(win.length)
        val s = win.map(BigInt(_)).sum
        val q = win.map(v => BigInt(v) * BigInt(v)).sum
        val lhs = n * x - s
        et -> (win.length >= 10 && lhs * lhs > 9 * (n * q - s * s))
      }
    }
    val truth = expected.groupBy(_._1).map { case (et, v) =>
      et -> (v.size.toLong, v.count(_._2).toLong)
    }
    assert(out == truth, "per-type (n_events, n_outliers) must match replay")
    assert(out.values.map(_._2).sum > 0, "fixture should contain some outliers")
  }

  test("q89 funnel: counts equal a per-user ordered replay and never grow") {
    val Array((nUsers, n1, n2, n3)) = Warehouse.q89Funnel(spark, d)
      .as[(Long, Long, Long, Long)].collect()
    val rows = Tables.events(spark, d)
      .select($"user_id", expr("unix_micros(ts)").as("us"), $"event_type")
      .as[(Long, Long, String)].collect()
    val perUser = rows.groupBy(_._1).values.map { evs =>
      val s = evs.filter(_._3 == "signup").map(_._2).minOption
      val v = s.flatMap(st => evs.filter(e => e._3 == "view" && e._2 > st)
        .map(_._2).minOption)
      val p = v.flatMap(vt => evs.filter(e => e._3 == "purchase" && e._2 > vt)
        .map(_._2).minOption)
      (s.isDefined, v.isDefined, p.isDefined)
    }.toSeq
    assert(nUsers == perUser.size)
    assert(n1 == perUser.count(_._1))
    assert(n2 == perUser.count(_._2))
    assert(n3 == perUser.count(_._3))
    assert(n1 >= n2 && n2 >= n3, "funnel steps must be monotone")
  }

  test("q90 retention: offsets are complete-per-user and cohort sizes add up") {
    val out = Warehouse.q90Retention(spark, d)
      .as[(java.sql.Date, Long, Long)].collect()
    assert(out.nonEmpty)
    // offset 0 rows exist for every cohort and hold its full size
    val byCohort = out.groupBy(_._1)
    byCohort.foreach { case (wk, rows) =>
      assert(rows.exists(_._2 == 0L), s"cohort $wk missing offset 0")
      val size0 = rows.find(_._2 == 0L).get._3
      rows.foreach { case (_, off, n) =>
        assert(n <= size0, s"cohort $wk offset $off retained more than joined")
      }
    }
    // total distinct users across cohorts equals offset-0 sum
    val users = Tables.events(spark, d).select($"user_id").distinct().count()
    assert(byCohort.values.map(_.find(_._2 == 0L).get._3).sum == users)
  }

  test("q91 transitions: counts replay and row probabilities floor-sum to 1e6") {
    val out = Warehouse.q91Transitions(spark, d)
      .as[(String, String, Long, Long)].collect()
    val rows = Tables.events(spark, d)
      .select($"user_id", expr("unix_micros(ts)").as("us"), $"event_id",
        $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val expected = rows.groupBy(_._1).values.flatMap { evs =>
      val ordered = evs.sortBy(e => (e._2, e._3)).map(_._4)
      ordered.zip(ordered.tail)
    }.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    assert(out.map(r => (r._1, r._2) -> r._3).toMap == expected)
    out.groupBy(_._1).foreach { case (from, cells) =>
      val total = cells.map(_._3).sum
      cells.foreach { case (_, _, n, p) =>
        assert(p == n * 1000000L / total, s"$from p_ppm must be exact floor")
      }
      val pSum = cells.map(_._4).sum
      assert(pSum <= 1000000L && pSum > 1000000L - cells.length,
        s"$from row floor-leak bound")
    }
  }
  test("q158 set ops equal literal distinct-key set algebra; cohorts " +
    "partition the customer universe") {
    val rows = Tables.orders(spark, d)
      .select($"o_custkey".cast("long"), $"o_orderdate".cast("string"))
      .as[(Long, String)].collect().toSeq
    val early = rows.filter(_._2 < "1998-01-01").map(_._1).toSet
    val late = rows.filter(_._2 >= "1998-01-01").map(_._1).toSet
    val expected = Seq(
      ("churned", early -- late), ("new", late -- early),
      ("retained", early & late)
    ).map { case (n, ks) => (n, ks.size.toLong, ks.sum) }
    val got = Warehouse.q158SetOps(spark, d)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._2).sum == (early ++ late).size,
      "cohorts partition the active-customer universe")
    // at sf0.001 a tail cohort may legitimately be empty (an empty set's
    // checksum must then be 0, not NULL); retained is always populated
    assert(got.find(_._1 == "retained").exists(_._2 > 0))
    got.filter(_._2 == 0).foreach(r => assert(r._3 == 0L))
  }

  test("q160 time-to-convert equals a per-user first-view/first-purchase " +
    "latency replay with type-1 percentiles") {
    val rows = Tables.events(spark, d)
      .select($"user_id", expr("unix_micros(ts)").as("us"), $"event_type")
      .as[(Long, Long, String)].collect()
    val viewers = rows.groupBy(_._1)
      .filter(_._2.exists(_._3 == "view"))
    val lats = viewers.values.flatMap { evs =>
      val fv = evs.filter(_._3 == "view").map(_._2).min
      evs.filter(e => e._3 == "purchase" && e._2 >= fv).map(_._2)
        .minOption.map(fp => (fp - fv) / 1000000L)
    }.toSeq.sorted
    val nV = viewers.size.toLong
    val nC = lats.size.toLong
    assert(nV > 0 && nC > 0, "fixture must have converting viewers")
    val Array((gV, gC, ppm, p50, p90)) =
      Warehouse.q160TimeToConvert(spark, d)
        .as[(Long, Long, Long, Option[Long], Option[Long])].collect()
    assert(gV == nV && gC == nC)
    assert(ppm == nC * 1000000L / nV, "exact floor conversion rate")
    // type-1 quantile: min lat whose cumulative count reaches k
    assert(p50.contains(lats(((nC + 1) / 2 - 1).toInt)))
    assert(p90.contains(lats(((9 * nC + 9) / 10 - 1).toInt)))
    assert(p50.get <= p90.get && lats.forall(_ >= 0))
  }

  test("q161 weighted median equals a literal weight-CDF replay and sits " +
    "where half the revenue sits") {
    val rows = Tables.lineitem(spark, d)
      .select($"l_returnflag", $"l_quantity".cast("long").as("q"),
        round($"l_extendedprice" * 100, 0).cast("long").as("cents"))
      .as[(String, Long, Long)].collect().toSeq
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (f, rs) =>
      val w = rs.map(r => BigInt(r._3)).sum
      val byQ = rs.groupBy(_._2).view
        .mapValues(_.map(r => BigInt(r._3)).sum).toSeq.sortBy(_._1)
      var cum = BigInt(0)
      val med = byQ.find { case (_, ws) => cum += ws; cum * 2 >= w }.get._1
      val qw = rs.map(r => BigInt(r._2) * r._3).sum
      (f, rs.size.toLong, w.toLong, med, (qw * 1000 / w).toLong)
    }
    val got = Warehouse.q161WeightedMedian(spark, d)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the defining CDF property, asserted directly: revenue at or below
    // the median is >= half, revenue strictly below is < half
    expected.foreach { case (f, _, wTot, med, _) =>
      val rs = rows.filter(_._1 == f)
      val below = rs.filter(_._2 < med).map(r => BigInt(r._3)).sum
      val atOrBelow = rs.filter(_._2 <= med).map(r => BigInt(r._3)).sum
      assert(atOrBelow * 2 >= BigInt(wTot) && below * 2 < BigInt(wTot))
    }
  }

  test("q162 burstiness equals a BigInt dispersion replay; Fano is " +
    "non-negative") {
    val daily = Tables.events(spark, d)
      .groupBy($"event_type", to_date($"ts").as("day"))
      .agg(count(lit(1)).as("x"))
      .select($"event_type", $"x").as[(String, Long)].collect().toSeq
    val expected = daily.groupBy(_._1).toSeq.sortBy(_._1).map { case (et, rs) =>
      val n = BigInt(rs.size); val g = rs.map(r => BigInt(r._2)).sum
      val sxx = rs.map(r => BigInt(r._2) * r._2).sum
      (et, rs.size.toLong, (g / n).toLong,
        if (g > 0) Some(((n * sxx - g * g) * 1000000 / (n * g)).toLong)
        else None)
    }
    val got = Warehouse.q162Burstiness(spark, d)
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    assert(got == expected)
    // n·Σx² ≥ G² (Cauchy–Schwarz) makes the index non-negative
    got.flatMap(_._4).foreach(f => assert(f >= 0))
  }

  test("q163 RFM equals a literal threshold-quartile replay; segments " +
    "partition the customer base") {
    val pc = Tables.orders(spark, d)
      .groupBy($"o_custkey")
      .agg(max(to_date($"o_orderdate")).cast("string").as("last"),
        count(lit(1)).as("freq"),
        sum(round($"o_totalprice" * 100, 0).cast("long")).as("cents"))
      .as[(Long, String, Long, Long)].collect().toSeq
    val maxDay = java.time.LocalDate.parse(pc.map(_._2).max)
    val rfm = pc.map { case (_, last, f, m) =>
      (java.time.temporal.ChronoUnit.DAYS.between(
        java.time.LocalDate.parse(last), maxDay), f, m)
    }
    def cuts(vs: Seq[Long]): (Long, Long, Long) = {
      val s = vs.sorted; val n = s.size
      (s(((n + 3) / 4 - 1).toInt), s(((n + 1) / 2 - 1).toInt),
        s(((3 * n + 3) / 4 - 1).toInt))
    }
    val cr = cuts(rfm.map(_._1)); val cf = cuts(rfm.map(_._2))
    val cm = cuts(rfm.map(_._3))
    def up(v: Long, c: (Long, Long, Long)): Long =
      1L + Seq(c._1, c._2, c._3).count(v > _)
    def down(v: Long, c: (Long, Long, Long)): Long =
      1L + Seq(c._1, c._2, c._3).count(v < _)
    val expected = rfm
      .groupBy(r => (down(r._1, cr), up(r._2, cf), up(r._3, cm)))
      .map { case ((rs, fs, ms), grp) =>
        (rs, fs, ms, grp.size.toLong, grp.map(_._2).sum, grp.map(_._3).sum)
      }.toSeq.sortBy(r => (-r._1, -r._2, -r._3))
    val got = Warehouse.q163Rfm(spark, d)
      .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._4).sum == pc.size.toLong,
      "segments partition the customer base")
    got.foreach { r =>
      assert(Seq(r._1, r._2, r._3).forall(s => s >= 1 && s <= 4))
    }
    // the threshold rule puts every quartile-boundary tie in ONE segment:
    // a customer at exactly a cut scores the lower band on that metric
    assert(got.map(r => (r._1, r._2, r._3)).distinct.size == got.size)
  }

  // jobs q164 runs at sf0.001 on local[4] (measured)
  private val Q164Jobs = 9

  test("q164 association rules equal a brute-force basket replay; a-priori " +
    "pruning is lossless at the support threshold") {
    val minSup = 3L
    val items = Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_partkey").distinct()
      .as[(Long, Long)].collect().toSeq
    val n = items.map(_._1).distinct.size.toLong
    val sup = items.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val baskets = items.groupBy(_._1).values.map(_.map(_._2).sorted)
    val pairCnt = baskets.flatMap(b =>
      for (i <- b.indices; j <- (i + 1) until b.size) yield (b(i), b(j)))
      .groupBy(identity).view.mapValues(_.size.toLong)
      .filter(_._2 >= minSup).toSeq
    val scored = pairCnt.map { case ((x, y), sxy) =>
      val (sx, sy) = (sup(x), sup(y))
      val lift = (BigInt(sxy) * n * 1000000 / (BigInt(sx) * sy)).toLong
      (lift, x, y, sxy, sx, sy, sxy * 1000000L / sx, sxy * 1000000L / sy)
    }.sortBy(r => (-r._1, r._2, r._3)).take(50)
    val expected = scored.zipWithIndex.map { case (r, i) =>
      (i + 1L, r._2, r._3, r._4, r._5, r._6, r._1, r._7, r._8)
    }
    val ((got, jobs), left) = persistedBy(jobsRunBy(
      Warehouse.q164AssocRules(spark, d)
        .as[(Long, Long, Long, Long, Long, Long, Long, Long, Long)]
        .collect().toSeq))
    assert(got == expected)
    assert(jobs <= Q164Jobs, s"q164 ran $jobs jobs")
    assert(left.isEmpty, s"q164 left RDDs $left persisted")
    // every surfaced pair's items are themselves frequent (downward
    // closure — the property that makes the a-priori prune lossless)
    got.foreach(r => assert(r._5 >= minSup && r._6 >= minSup))
    assert(got.nonEmpty, "fixture must surface frequent pairs")
  }

  test("q167 order gaps equal a literal sorted-date diff replay with type-1 " +
    "percentiles") {
    val seg = Tables.customer(spark, d)
      .select($"c_custkey", $"c_mktsegment")
      .as[(Long, String)].collect().toMap
    val od = Tables.orders(spark, d)
      .select($"o_custkey", to_date($"o_orderdate").cast("string"))
      .as[(Long, String)].collect().toSeq
    val gaps = od.groupBy(_._1).toSeq.flatMap { case (cust, rows) =>
      val days = rows.map(r =>
        java.time.LocalDate.parse(r._2).toEpochDay).sorted
      days.zip(days.tail).map { case (a, b) => (seg(cust), cust, b - a) }
    }
    val expected = gaps.groupBy(_._1).toSeq.sortBy(_._1).map { case (sg, gs) =>
      val vs = gs.map(_._3).sorted
      val n = vs.size.toLong
      (sg, gs.map(_._2).distinct.size.toLong, n,
        vs(((n + 1) / 2 - 1).toInt), vs(((9 * n + 9) / 10 - 1).toInt),
        (BigInt(vs.sum) * 1000 / n).toLong,
        vs.count(_ <= 30) * 1000000L / n)
    }
    val got = Warehouse.q167OrderGaps(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    got.foreach { r =>
      assert(r._4 <= r._5, "p50 <= p90")
      assert(r._3 >= r._2, "at least one gap per repeat customer")
    }
  }

  test("q169 multi-touch credits equal a per-purchase U-model replay and " +
    "conserve each purchase's ppm exactly") {
    val look = 7L * 86400L * 1000000L
    val rows = Tables.events(spark, d)
      .select($"user_id", $"event_id", expr("unix_micros(ts)").as("us"),
        $"event_type", round($"value" * 100, 0).cast("long"),
        expr("CAST(get_json_object(props, '$.k') AS LONG) % 4"))
      .as[(Long, Long, Long, String, Long, Long)].collect().toSeq
    val clicks = rows.filter(_._4 == "click")
      .map(r => (r._1, r._2, r._3, s"ch${r._6}"))
    val purchases = rows.filter(_._4 == "purchase")
    val touches = purchases.flatMap { case (u, pid, pts, _, cents, _) =>
      val cs = clicks.filter(c => c._1 == u && c._3 <= pts &&
        c._3 >= pts - look).sortBy(c => (c._3, c._2))
      val k = cs.size
      cs.zipWithIndex.map { case (c, i) =>
        val pos = i + 1
        val mid = if (k >= 3) 200000L / (k - 2) else 0L
        val ppm =
          if (k == 1) 1000000L
          else if (k == 2) 500000L
          else if (pos == 1) 400000L
          else if (pos == k) 400000L + 200000L - (k - 2) * mid
          else mid
        (c._4, pos, k, cents, ppm, pid)
      }
    }
    // conservation: every attributed purchase's credits sum to exactly 1e6
    touches.groupBy(_._6).values.foreach { ts =>
      assert(ts.map(_._5).sum == 1000000L)
    }
    val expected = touches.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (ch, ts) =>
        (ch, ts.size.toLong, ts.count(_._2 == 1).toLong,
          ts.count(t => t._2 == t._3).toLong,
          (ts.map(t => BigInt(t._4) * t._5).sum / 1000000).toLong)
    }
    val got = Warehouse.q169MultiTouch(spark, d)
      .as[(String, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.map(_._3).sum == got.map(_._4).sum,
      "every attributed purchase has exactly one first and one last touch")
  }

  test("q170 growth accounting equals a per-user day-set replay and the " +
    "DAU identity holds") {
    val ud = Tables.events(spark, d)
      .select($"user_id", to_date($"ts").cast("string")).distinct()
      .as[(Long, String)].collect().toSeq
      .map { case (u, day) => (u, java.time.LocalDate.parse(day).toEpochDay) }
    val byDay = ud.groupBy(_._2)
    val firstOf = ud.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val activeOn = byDay.view.mapValues(_.map(_._1).toSet).toMap
    val days = byDay.keys.toSeq.sorted
    val expected = days.zipWithIndex.map { case (day, i) =>
      val act = activeOn(day)
      val nw = act.count(u => firstOf(u) == day).toLong
      val ret = act.count(u =>
        firstOf(u) != day && activeOn.getOrElse(day - 1, Set()).contains(u))
        .toLong
      val res = act.size - nw - ret
      val churn =
        if (i > 0 && days(i - 1) == day - 1)
          Some(activeOn(day - 1).size.toLong - ret)
        else None
      (java.time.LocalDate.ofEpochDay(day).toString, act.size.toLong,
        nw, ret, res, churn)
    }
    val got = Warehouse.q170GrowthAccounting(spark, d)
      .select($"day".cast("string"), $"dau", $"new_users", $"retained",
        $"resurrected", $"churned")
      .as[(String, Long, Long, Long, Long, Option[Long])].collect().toSeq
    assert(got == expected)
    // the accounting identities, asserted directly
    got.foreach(r => assert(r._2 == r._3 + r._4 + r._5,
      "dau = new + retained + resurrected"))
    got.sliding(2).foreach {
      case Seq(p, c) => c._6.foreach { ch =>
        assert(c._2 - p._2 == c._3 + c._5 - ch,
          "dau delta = new + resurrected - churned")
      }
      case _ =>
    }
  }

  test("q172 Markov memory equals a literal triple replay; order-2 " +
    "accuracy dominates order-1") {
    val rows = Tables.events(spark, d)
      .select($"user_id", expr("unix_micros(ts)").as("us"), $"event_id",
        $"event_type")
      .as[(Long, Long, Long, String)].collect()
    val triples = rows.groupBy(_._1).values.flatMap { evs =>
      val o = evs.sortBy(e => (e._2, e._3)).map(_._4)
      o.indices.drop(2).map(i => (o(i - 2), o(i - 1), o(i)))
    }.toSeq
    val n = triples.size.toLong
    val c1 = triples.groupBy(_._2).values
      .map(g => g.groupBy(_._3).values.map(_.size).max.toLong).sum
    val c2 = triples.groupBy(t => (t._1, t._2)).values
      .map(g => g.groupBy(_._3).values.map(_.size).max.toLong).sum
    val Array(got) = Warehouse.q172MarkovMemory(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(got._1 == n && got._4 == c1 && got._5 == c2)
    assert(got._2 == triples.map(_._2).distinct.size.toLong)
    assert(got._3 == triples.map(t => (t._1, t._2)).distinct.size.toLong)
    assert(got._6 == c1 * 1000000L / n && got._7 == c2 * 1000000L / n)
    assert(c2 >= c1, "finer context partition dominates")
    assert(got._8 == (c2 - c1) * 1000000L / n && got._8 >= 0)
  }

  // single-pass q173 at sf0.001, local[4], mass probe memoized
  private val SinglePassJobs = 6

  test("q173 CF neighbors equal a brute-force Jaccard replay; blocking " +
    "loses no pair above the common-count floor") {
    val oc = Tables.orders(spark, d)
      .select($"o_orderkey", $"o_custkey").as[(Long, Long)].collect().toMap
    val ci = Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_partkey").as[(Long, Long)].collect()
      .map { case (o, p) => (oc(o), p) }.distinct.toSeq
    val sets = ci.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val custs = sets.keys.toSeq.sorted
    val scored = (for {
      i <- custs.indices; j <- (i + 1) until custs.size
      u = custs(i); v = custs(j)
      common = (sets(u) & sets(v)).size.toLong if common >= 2
    } yield {
      val (su, sv) = (sets(u).size.toLong, sets(v).size.toLong)
      (common * 1000000L / (su + sv - common), u, v, common, su, sv)
    }).sortBy(r => (-r._1, r._2, r._3)).take(50)
    val expected = scored.zipWithIndex.map { case (r, i) =>
      (i + 1L, r._2, r._3, r._4, r._5, r._6, r._1)
    }
    val got = Warehouse.q173CfNeighbors(spark, d)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // Jaccard sanity: common bounded by the smaller set
    got.foreach(r => assert(r._4 <= math.min(r._5, r._6)))
    assert(got.nonEmpty, "fixture must surface CF neighbors")
    // the single-pass plan, its mass probe memoized by the run above
    val (single, jobs) = jobsRunBy {
      val df = Warehouse.q173CfNeighbors(spark, d)
      df.collect()
      df
    }
    assert(jobs <= SinglePassJobs, s"single-pass q173 ran $jobs jobs")
    // BOUNDED-SCRATCH regime: a pair budget far below the fixture's
    // Σ|block|² forces the u-chunked multi-step plan — identical rows,
    // identical schema, at several chunk counts, and the persisted
    // postings are released when the steps end
    // fixture Σ|block|² ≈ 149k → chunks = ⌈1.25·mass/2budget⌉ (25%
    // skew headroom): 11 and 4 steps. Each step must drop its plan before
    // the next is planned, so its shuffle files can go: the shuffles
    // still reachable when a query is planned do not grow with the step
    for (budget <- Seq("9000", "30000")) {
      spark.conf.set("spark.graft.q173.stepPairBudget", budget)
      try {
        val (((schema, rows), left), live) = liveShufflesBy(persistedBy {
          val chunked = Warehouse.q173CfNeighbors(spark, d)
          (chunked.schema, chunked.as[(Long, Long, Long, Long, Long, Long, Long)]
            .collect().toSeq)
        })
        assert(schema == single.schema, s"budget=$budget schema")
        assert(rows == expected, s"budget=$budget rows")
        assert(left.isEmpty, s"budget=$budget left RDDs $left persisted")
        val held = live.filter(_.nonEmpty)
        assert(held.size >= 2, s"budget=$budget sampled $live")
        assert(held.forall(_.subsetOf(held.head)),
          s"budget=$budget reachable shuffles grew over the steps: $live")
      } finally spark.conf.unset("spark.graft.q173.stepPairBudget")
    }
  }

  test("q174 discount lift equals a BigInt OLS replay per brand") {
    val pb = Tables.part(spark, d)
      .select($"p_partkey", $"p_brand").as[(Long, String)].collect().toMap
    val rows = Tables.lineitem(spark, d)
      .select($"l_partkey", round($"l_discount" * 100, 0).cast("long"),
        $"l_quantity".cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
      .map { case (pk, x, y) => (pb(pk), BigInt(x), BigInt(y)) }
    val expected = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (b, rs) =>
      val n = BigInt(rs.size)
      val sx = rs.map(_._2).sum; val sy = rs.map(_._3).sum
      val sxy = rs.map(r => r._2 * r._3).sum
      val sxx = rs.map(r => r._2 * r._2).sum
      val num = n * sxy - sx * sy
      val den = n * sxx - sx * sx
      val slope = if (den > 0)
        Some((num.sign * ((num.abs * 1000000) / den)).toLong)
      else None
      (b, rs.size.toLong, (sy * 1000 / n).toLong, slope)
    }
    val got = Warehouse.q174DiscountLift(spark, d)
      .as[(String, Long, Long, Option[Long])].collect().toSeq
    assert(got == expected)
    assert(got.flatMap(_._4).nonEmpty, "fixture spans the discount ladder")
  }

  test("q175 temporal integrity equals a literal delay replay; percentiles " +
    "cover only the valid subset") {
    val op = Tables.orders(spark, d)
      .select($"o_orderkey", $"o_orderpriority",
        to_date($"o_orderdate").cast("string"))
      .as[(Long, String, String)].collect()
      .map(r => r._1 -> (r._2, java.time.LocalDate.parse(r._3).toEpochDay))
      .toMap
    val delays = Tables.lineitem(spark, d)
      .select($"l_orderkey", to_date($"l_shipdate").cast("string"))
      .as[(Long, String)].collect().toSeq
      .map { case (ok, ship) =>
        val (prio, od) = op(ok)
        (prio, java.time.LocalDate.parse(ship).toEpochDay - od)
      }
    val expected = delays.groupBy(_._1).toSeq.sortBy(_._1).map {
      case (prio, ds) =>
        val n = ds.size.toLong
        val bad = ds.count(_._2 < 0).toLong
        val valid = ds.map(_._2).filter(_ >= 0).sorted
        val nv = valid.size.toLong
        (prio, n, bad, bad * 1000000L / n,
          valid(((nv + 1) / 2 - 1).toInt), valid(((9 * nv + 9) / 10 - 1).toInt))
    }
    val got = Warehouse.q175TemporalIntegrity(spark, d)
      .as[(String, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    assert(got.exists(_._3 > 0),
      "fixture's synthetic dates must exercise the violation path")
    got.foreach(r => assert(r._5 <= r._6 && r._5 >= 0))
  }

  test("q176 backlog sweep equals a literal interval replay; levels are " +
    "non-negative and conserve") {
    val close = Tables.lineitem(spark, d)
      .groupBy($"l_orderkey")
      .agg(max(to_date($"l_shipdate")).cast("string").as("close"))
      .as[(Long, String)].collect().toMap
    val spans = Tables.orders(spark, d)
      .select($"o_orderkey", to_date($"o_orderdate").cast("string"))
      .as[(Long, String)].collect().toSeq
      .flatMap { case (ok, od) =>
        // inner join: an order with no lineitem rows has no close date
        close.get(ok).map(c =>
          (java.time.LocalDate.parse(od).toEpochDay,
            java.time.LocalDate.parse(c).toEpochDay))
      }
      .filter { case (o, c) => c >= o }
    val deltas = (spans.map(s => (s._1, 1L)) ++ spans.map(s => (s._2 + 1, -1L)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sum).toSeq.sortBy(_._1)
    var lvl = 0L
    val levels = deltas.map { case (day, dl) => lvl += dl; (day, lvl) }
    val expected = levels
      .groupBy(l => java.time.LocalDate.ofEpochDay(l._1).toString.take(7))
      .toSeq.sortBy(_._1)
      .map { case (m, ls) =>
        (m, ls.map(_._2).max, ls.maxBy(_._1)._2)
      }
    val got = Warehouse.q176BacklogSweep(spark, d)
      .as[(String, Long, Long)].collect().toSeq
    assert(got == expected)
    levels.foreach(l => assert(l._2 >= 0, "running level can never go negative"))
    assert(levels.last._2 == 0L, "every opened order eventually closes")
  }

  test("q177 LTV curve equals a literal cohort replay; cumulative revenue " +
    "telescopes") {
    val rows = Tables.events(spark, d)
      .select($"user_id", to_date($"ts").cast("string"), $"event_type",
        round($"value" * 100, 0).cast("long"))
      .as[(Long, String, String, Long)].collect().toSeq
      .map { case (u, day, et, cents) =>
        val ld = java.time.LocalDate.parse(day)
        val wk = ld.minusDays(ld.getDayOfWeek.getValue - 1L)
        (u, wk.toEpochDay, if (et == "purchase") cents else 0L)
      }
    val uw = rows.groupBy(r => (r._1, r._2)).view
      .mapValues(_.map(_._3).sum).toSeq
      .map { case ((u, wk), cents) => (u, wk, cents) }
    val cohortOf = uw.groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val sizes = cohortOf.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val cells = uw.groupBy(r =>
        (cohortOf(r._1), (r._2 - cohortOf(r._1)) / 7))
      .view.mapValues(rs =>
        (rs.count(_._3 > 0).toLong, rs.map(_._3).sum)).toSeq
      .sortBy(_._1)
    val expected = cells.groupBy(_._1._1).toSeq.flatMap { case (cw, cs) =>
      var cum = 0L
      cs.sortBy(_._1._2).map { case ((_, off), (payers, rev)) =>
        cum += rev
        (java.time.LocalDate.ofEpochDay(cw).toString, off, sizes(cw),
          payers, rev, cum, cum * 1000 / sizes(cw))
      }
    }.sortBy(r => (r._1, r._2))
    val got = Warehouse.q177LtvCurve(spark, d)
      .select($"cohort_week".cast("string"), $"week_offset", $"cohort_size",
        $"n_payers", $"revenue_cents", $"cum_revenue_cents",
        $"ltv_milli_cents")
      .as[(String, Long, Long, Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // every user lands in exactly one cohort
    assert(got.map(r => (r._1, r._3)).distinct.map(_._2).sum ==
      cohortOf.size.toLong)
    // LTV-to-date is monotone within a cohort
    got.groupBy(_._1).values.foreach { rs =>
      rs.sortBy(_._2).map(_._7).sliding(2).foreach {
        case Seq(a, b) => assert(b >= a)
        case _ =>
      }
    }
  }

  test("q178 mix shift equals a literal era-split replay; ranks are " +
    "permutations and floored shares telescope") {
    val odate = Tables.orders(spark, d)
      .select($"o_orderkey", to_date($"o_orderdate").cast("string"))
      .as[(Long, String)].collect().toMap
    val days = odate.values.toSeq.sorted
    val med = days(((days.size + 1) / 2 - 1))
    val brandOf = Tables.part(spark, d)
      .select($"p_partkey", $"p_brand").as[(Long, String)].collect().toMap
    val rows = Tables.lineitem(spark, d)
      .select($"l_orderkey", $"l_partkey",
        round($"l_extendedprice" * 100, 0).cast("long"))
      .as[(Long, Long, Long)].collect().toSeq
      .map { case (ok, pk, c) => (brandOf(pk), odate(ok) <= med, c) }
    val byBrand = rows.groupBy(_._1).view.mapValues { rs =>
      (rs.filter(_._2).map(_._3).sum, rs.filterNot(_._2).map(_._3).sum)
    }.toSeq.sortBy(_._1)
    val t1 = byBrand.map(_._2._1).sum; val t2 = byBrand.map(_._2._2).sum
    val r1 = byBrand.sortBy(r => (-r._2._1, r._1)).map(_._1).zipWithIndex
      .map { case (b, i) => b -> (i + 1L) }.toMap
    val r2 = byBrand.sortBy(r => (-r._2._2, r._1)).map(_._1).zipWithIndex
      .map { case (b, i) => b -> (i + 1L) }.toMap
    val expected = byBrand.map { case (b, (h1, h2)) =>
      val s1 = h1 * 1000000L / t1; val s2 = h2 * 1000000L / t2
      (b, h1, h2, s1, s2, s2 - s1, r1(b), r2(b))
    }
    val got = Warehouse.q178MixShift(spark, d)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)]
      .collect().toSeq
    assert(got == expected)
    val n = got.size.toLong
    assert(got.map(_._7).sorted == (1L to n) &&
      got.map(_._8).sorted == (1L to n), "ranks are permutations")
    // floored shares can only undershoot the whole by the floor leak
    assert(got.map(_._4).sum > 1000000L - n && got.map(_._4).sum <= 1000000L)
  }

  test("q262: the changelog-maintained MV answer equals an independent " +
    "recomputation of the I/U/D history's final state") {
    val got = Warehouse.q262MvKvIncremental(spark, d)
      .as[(String, Long, Long)].collect().toSeq
    // replay the three row-level commands declaratively on the raw fact
    val expected = Tables.orders(spark, d)
      .select($"o_orderkey".cast("long").as("id"),
        $"o_orderstatus".as("rf"),
        floor($"o_totalprice").cast("double").as("q"))
      .filter($"id" % 11 =!= 3)
      .select(
        when($"id" % 13 === 5, concat($"rf", lit("!"))).otherwise($"rf")
          .as("name"),
        when($"id" % 7 === 0, $"q" * 2).otherwise($"q").as("v"))
      .groupBy("name")
      .agg(sum($"v".cast("long")).as("sum_qty"),
        count(lit(1)).as("n_rows"))
      .orderBy("name")
      .as[(String, Long, Long)].collect().toSeq
    assert(got == expected, s"IVM MV $got vs recomputation $expected")
    // the dim-moving update really moved rows: '!' groups exist
    assert(got.exists(_._1.endsWith("!")))
  }

  test("q262 IVM rollup refuses changelogs it cannot decrement") {
    val root = java.nio.file.Files.createTempDirectory("wh_ivm_").toString
    val cat = "wh_ivm_cat"
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[graft.sources.v2.KvCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE TABLE $cat.t (id BIGINT, name STRING, value DOUBLE)")
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "name", "value")
      .write.format("graft-kv").option("path", s"$root/t")
      .mode("append").save()
    spark.sql(s"UPDATE $cat.t SET value = 5.0 WHERE id = 1")
    def clog(pre: Boolean) = spark.read.format("graft-kv")
      .option("path", s"$root/t").option("changelog", "true")
      .option("preImages", pre.toString).load()
    // (a) classic changelog: no pre_present column at all
    val e1 = intercept[IllegalArgumentException](
      Warehouse.kvIvmDeltaRollup(clog(pre = false)))
    assert(e1.getMessage.contains("pre-image changelog"))
    // (b) RESTORE's replay D records carry no pre-image (snapshot
    // reset): the decrement merge must refuse, not under-subtract.
    // Append a key AFTER the target version so the restore emits a D.
    Seq((3L, "c", 3.0)).toDF("id", "name", "value")
      .write.format("graft-kv").option("path", s"$root/t")
      .mode("append").save()
    graft.sources.v2.KvTable.restore(spark, s"$root/t", 0L, 8)
    val e2 = intercept[IllegalArgumentException](
      Warehouse.kvIvmDeltaRollup(clog(pre = true)))
    assert(e2.getMessage.contains("cannot be decremented"))
    // (c) the pre-restore slice still rolls up fine
    val ok = Warehouse.kvIvmDeltaRollup(clog(pre = true)
      .filter($"seq" <= 1))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // a: I(+1,+1) then U(+5,+1)/(−1,−1) nets (5,1); b: I(+2,+1)
    assert(ok == Set(("a", 5L, 1L), ("b", 2L, 1L)), s"got $ok")
  }
}
