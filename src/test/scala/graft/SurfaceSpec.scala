package graft

import java.sql.Timestamp

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.operators._

/** Specs for the widened surface: typed aggregator, set ops, hopping
  * windows, map reshapes, extensions registration, stateful streaming fold.
  */
class SurfaceSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, t: String, u: Long, et: String, v: Double = 1.0,
                 k: Int = 1): TestEv =
    TestEv(id, Timestamp.valueOf(t), u, et, v, s"""{"k": $k}""")

  test("driver contract: oracle keys map onto queries; rows-only set is documented") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracle SQL without a query: ${o.diff(q)}")
    // a query without oracle SQL gets only the driver's weaker rows>0 check;
    // every such case must be a deliberate, named exception. As of r10 there
    // are NONE: ext_decontaminate_bloom became the bloom-pruned EXACT form,
    // hash-checked against the exact-path SQL (the raw upper-bound sketch
    // stays sbt-pinned in ExtSpec).
    assert(q.diff(o) == Set.empty[String],
      s"undocumented rows-only queries: ${q.diff(o)}")
  }

  test("typed Aggregator path equals untyped answerCounts") {
    val e = Tables.events(spark, sfDir)
    val typed = Achievements.typedAnswerCounts(spark, e)
      .select("user_id", "n_correct", "latest_attempt")
      .as[(Long, Long, Timestamp)].collect().toSet
    val untyped = Achievements.answerCounts(e)
      .select("user_id", "n_correct", "latest_attempt")
      .as[(Long, Long, Timestamp)].collect().toSet
    assert(typed == untyped)
  }

  test("set ops: engaged users respects union/intersect/except algebra") {
    val base = Seq(
      ev(1, "2024-01-01 00:00:00", 1, "signup"),
      ev(2, "2024-01-01 00:00:01", 1, "click"),
      ev(3, "2024-01-01 00:00:02", 2, "purchase"),
      ev(4, "2024-01-01 00:00:03", 2, "click"),
      ev(6, "2024-01-01 00:00:05", 3, "signup"))
    // user 2 crosses the error-prone bar (>10 errors); user 3 never clicked
    val errors = (0 until 11).map(i => ev(100 + i, s"2024-01-02 00:00:${i + 10}", 2, "error"))
    val got = Relational.engagedUsers((base ++ errors).toDF()).as[Long].collect().toSet
    assert(got == Set(1L))
    // the single-pass conditional-aggregation form is bit-identical
    val single = Relational.engagedUsersSinglePass((base ++ errors).toDF())
      .as[Long].collect().toSet
    assert(single == got)
  }

  test("single-pass engaged users equals the set-op form on real data") {
    val e = Tables.events(spark, sfDir)
    val a = Relational.engagedUsers(e).as[Long].collect().toSet
    val b = Relational.engagedUsersSinglePass(e).as[Long].collect().toSet
    assert(a == b)
  }

  test("approximate analytics: HLL distinct within rsd bound; percentiles bracket exact") {
    val e = Tables.events(spark, sfDir)
    val exact = e.groupBy("event_type").agg(countDistinct("user_id").as("n"))
      .as[(String, Long)].collect().toMap
    val approx = Stats.approxDistinctUsers(e, rsd = 0.02)
      .as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      assert(math.abs(approx(k) - n) <= math.max(3, (n * 0.1).toLong),
        s"$k: approx ${approx(k)} vs exact $n")
    }
    val c = Tables.customer(spark, sfDir)
    val pct = Stats.approxSpendPercentiles(e, c)
      .as[(String, Seq[Double])].collect()
    pct.foreach { case (_, ps) =>
      assert(ps.length == 3 && ps(0) <= ps(1) && ps(1) <= ps(2)) // monotone
    }
  }

  test("hopping windows: every event lands in exactly two windows") {
    val e = Tables.events(spark, sfDir)
    val total = Stats.hoppingCounts(e).agg(sum("n")).as[Long].head()
    assert(total == 2 * e.count())
  }

  test("A2 map reshape: per-user event_type -> last-seen-us map") {
    val e = Seq(
      ev(1, "2024-01-01 00:00:00", 1, "view"),
      ev(2, "2024-01-05 00:00:00", 1, "click")).toDF()
    val m = Stats.lastSeenMap(e).as[(Long, Map[String, Long])].collect().head._2
    assert(m.keySet == Set("view", "click", "OVERALL"))
    assert(m("OVERALL") == m("click"))
  }

  test("A4 nested map reshape: day -> role -> type -> count") {
    val e = Seq(ev(1, "2024-01-01 10:00:00", 1, "click")).toDF()
    val c = Seq((1L, "SEG", 7)).toDF("c_custkey", "c_mktsegment", "c_nationkey")
    val row = Stats.dailyRoleCountsNested(e, c).collect().head
    val m = row.getMap[String, Map[String, Long]](1)
    assert(m("SEG")("click") == 1L)
  }

  test("P10 scrub turns left-join nulls into empty strings") {
    val e = Seq(ev(1, "2024-01-01 00:00:00", 999, "click")).toDF()
    val s = Seq((1L, "Supplier#1")).toDF("s_suppkey", "s_name")
    val got = Relational.scrubbedSupplierEnrich(e, s)
      .select("supplier_name").as[String].collect()
    assert(got.toSeq == Seq(""))
  }

  test("GraftExtensions injects every native kernel; each evaluates through SQL") {
    import graft.ext.Dedup
    val exts = new SparkSessionExtensions
    new GraftExtensions().apply(exts) // all four builders inject without error
    // evaluate each kernel through the per-session registration path
    graft.functions.CosineSimilarity.register(spark)
    graft.functions.HashExpressions.register(spark,
      Dedup.SimHashBits, Dedup.NumPerms, Dedup.permA, Dedup.permB, Dedup.MinhashP)
    val v = spark.sql("SELECT cosine_sim(array(1.0f, 0.0f), array(1.0f, 0.0f))")
      .collect().head.getDouble(0)
    assert(math.abs(v - 1.0) < 1e-12)
    graft.functions.SortedIntersectCount.register(spark)
    // merge-walk count on sorted arrays == size(array_intersect); int and
    // bigint element types both accepted (batch tids are int, index bigint)
    assert(spark.sql(
      "SELECT sorted_intersect_count(array(1L, 3L, 5L, 9L), array(3L, 4L, 5L))")
      .head.getLong(0) == 2L)
    assert(spark.sql(
      "SELECT sorted_intersect_count(array(1, 2, 3), array(2L, 3L, 4L))")
      .head.getLong(0) == 2L)
    assert(spark.sql(
      "SELECT sorted_intersect_count(array(1L), array(2L))").head.getLong(0) == 0L)
    // null SLOTS are skipped, never read as garbage values (sort_array
    // ascending places nulls first; the count is the non-null intersection)
    assert(spark.sql(
      """SELECT sorted_intersect_count(array(CAST(NULL AS BIGINT), 1L, 3L),
        |                              array(CAST(NULL AS BIGINT), 3L, 4L))""".stripMargin)
      .head.getLong(0) == 1L)
    assert(spark.sql(
      "SELECT sorted_intersect_count(array(CAST(NULL AS INT)), array(0))")
      .head.getLong(0) == 0L)
    assert(spark.sql("SELECT simhash32(array('a','b'))").head.getLong(0) ==
      graft.functions.HashKernels.simhash32(Array("a", "b"), Dedup.SimHashBits))
    assert(spark.sql("SELECT size(minhash_sig(array('a')))").head.getInt(0) ==
      Dedup.NumPerms)
    assert(spark.sql("SELECT md5h60_arr(array('a'))").head.getSeq[Long](0).head ==
      graft.functions.HashKernels.md5Hash60("a"))
    val p = spark.sql(
      """SELECT simhash_pairs_kernel(array(
        |  named_struct('doc_id', 1L, 'simhash', 0L),
        |  named_struct('doc_id', 2L, 'simhash', 1L)), 3) AS p""".stripMargin)
      .selectExpr("size(p)", "p[0].hamming").head
    assert(p.getInt(0) == 1 && p.getLong(1) == 1L)
    // the bucket-ANN kernel family injects and evaluates too
    graft.functions.AnnKernels.register(spark)
    val t1 = spark.sql(
      """SELECT bucket_top1(
        |  array(named_struct('id', 1L, 'emb', array(1.0f, 0.0f)),
        |        named_struct('id', 2L, 'emb', array(0.9f, 0.1f))),
        |  array(named_struct('id', 1L, 'emb', array(1.0f, 0.0f)))) AS w""".stripMargin)
      .selectExpr("w[0].vec_id", "w[0].neighbor_id").head
    assert(t1.getLong(0) == 1L && t1.getLong(1) == 2L)
    val nc = spark.sql(
      """SELECT nearest_centroids(array(1.0f, 0.0f),
        |  array(named_struct('id', 0L, 'emb', array(1.0f, 0.0f)),
        |        named_struct('id', 1L, 'emb', array(0.0f, 1.0f))), 1) AS a""".stripMargin)
      .selectExpr("a[0].cluster_id", "a[0].crank").head
    assert(nc.getLong(0) == 0L && nc.getLong(1) == 1L)
  }

  test("as-of join picks latest update at-or-before event time, null before first") {
    val e = Seq(
      ev(1, "2024-01-01 00:00:00", 1, "click"),           // before any signup
      ev(2, "2024-01-02 00:00:00", 1, "signup", v = 10.0), // update (value 10)
      ev(3, "2024-01-03 00:00:00", 1, "click"),            // sees 10
      ev(4, "2024-01-04 00:00:00", 1, "signup", v = 20.0),
      ev(5, "2024-01-04 00:00:00", 1, "click"),            // same ts -> sees 20 (<=)
      ev(6, "2024-01-05 00:00:00", 1, "click")).toDF()     // sees 20
    val got = Enrich.asOfJoin(e).orderBy("event_id")
      .select("event_id", "asof_value")
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getDouble(1))))
    assert(got.toSeq == Seq(
      1L -> None, 2L -> Some(10.0), 3L -> Some(10.0),
      4L -> Some(20.0), 5L -> Some(20.0), 6L -> Some(20.0)))
  }

  test("salted join equals plain join; salted count equals plain count") {
    val facts = Seq((1L, "x1"), (1L, "x2"), (1L, "x3"), (2L, "y")).toDF("k", "payload")
    val dim = Seq((1L, "A"), (2L, "B"), (3L, "C")).toDF("k", "attr")
    val plain = facts.join(dim, "k").select("k", "payload", "attr")
      .as[(Long, String, String)].collect().toSet
    val salted = Skew.saltedJoin(facts, dim, "k", "payload", 4)
      .select("k", "payload", "attr").as[(Long, String, String)].collect().toSet
    assert(salted == plain)
    val plainCount = facts.groupBy("k").count().as[(Long, Long)].collect().toSet
    val saltedCount = Skew.saltedCount(facts, "k", "payload", 4)
      .as[(Long, Long)].collect().toSet
    assert(saltedCount == plainCount)
  }

  test("streaming mapGroupsWithState streak fold emits changelog updates") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[TestEv]
    val gapUs = 4L * 3600 * 1000000
    val stream = mem.toDF()
      .select(col("user_id").cast("long"), unix_micros(col("ts")))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout())(
        (uid: Long, rows: Iterator[(Long, Long)],
         st: org.apache.spark.sql.streaming.GroupState[Streaks.StreakState]) =>
          Streaks.updateStreak(gapUs)(uid, rows, st))
    val q = stream.toDF().writeStream
      .outputMode(OutputMode.Update())
      .format("memory").queryName("fold_test")
      .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("50 milliseconds"))
      .start()
    mem.addData(ev(1, "2024-01-01 00:00:00", 1, "click"))
    q.processAllAvailable()
    mem.addData(ev(2, "2024-01-01 01:00:00", 1, "click")) // extends streak
    q.processAllAvailable()
    mem.addData(ev(3, "2024-01-02 00:00:00", 1, "click")) // breaks streak
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("fold_test")
      .select("n_events").as[Long].collect().toSeq
    assert(rows == Seq(1L, 2L, 1L)) // changelog: 1-event, extended, reset
  }

  test("job wall is the union of job intervals: overlaps count once") {
    // [0,10] and [4,12] overlap (an AQE broadcast job inside its parent);
    // [20,25] is disjoint. Summed durations would read 10 + 8 + 5 = 23.
    assert(Harness.unionMs(Seq((20L, 25L), (0L, 10L), (4L, 12L))) == 17L)
    assert(Harness.unionMs(Seq.empty) == 0L)
  }

  test("scaled copies: ids disjoint per copy; an over-ceiling request fails loudly") {
    val base = Tables.documents(spark, sfDir).select("doc_id", "text")
    val n = base.count()
    val copies = Harness.copies(base, Seq("doc_id"), 3)((df, _) => df)
    assert(copies.select("doc_id").distinct().count() == 3 * n)
    val stride = Harness.idStride(base, "doc_id")
    val e = intercept[IllegalArgumentException] {
      Harness.copies(base, Seq("doc_id"), 3, ceiling = 3 * stride - 1)((df, _) => df)
    }
    assert(e.getMessage.contains("ceiling"))
  }

  test("docs cite only graft.Probe entries that exist, and no deleted main") {
    val docs = Seq("SCALE.md", "README.md").map { f =>
      f -> new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(f)), "UTF-8")
    }
    val cited = docs.flatMap { case (f, text) =>
      """graft\.Probe\s+([a-z0-9_]+)""".r.findAllMatchIn(text).map(m => f -> m.group(1))
    }
    assert(cited.nonEmpty, "no graft.Probe command cited")
    val unknown = cited.filterNot(c => Probe.entries.contains(c._2))
    assert(unknown.isEmpty, s"cited entries missing from Probe.entries: $unknown")
    val deleted = """graft\.\w+Probe\b|graft\.Explain\b|graft\.streaming\.StreamSmoke\b""".r
    val stale = docs.flatMap { case (f, text) => deleted.findAllIn(text).map(f -> _) }
    assert(stale.isEmpty, s"docs cite deleted mains: ${stale.distinct}")
  }
}
