package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import Main._

/** A closed-loop client running a list of `SparkEntry` queries one at a
  * time, each written to the `noop` sink (not `count()`, which would let
  * Catalyst prune projection-only work).
  *
  * A run is: set-up (repeated `Setups` times; the median is `setup_s`), one
  * untimed verification pass that collects every query's output for its
  * digest, then timed passes in seed-shuffled order until `seconds` would be
  * exceeded, always at least one. Timings cover whole passes only, so every
  * run sees the same query mix.
  */
object BatchWorkload {

  private final case class Exec(name: String, key: String, start: Double, built: Double,
                                executed: Double, end: Double)

  /** Release per-query persists and localCheckpoint blocks, as `graft.Bench`
    * does between queries.
    */
  private def cleanup(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  private val tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  def run(a: Args, names: Seq[String], r: Result): Unit = {
    val queries = graft.SparkEntry.queries
    val unknown = names.filterNot(queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

    // set-up: session start, input staging (every table's schema and file
    // listing resolved) and a fixed warm-up: the list's first query
    val setupMs = setUp(a) { (spark, _) =>
      tables.foreach(t => graft.Tables.load(spark, a.data, t).schema)
      queries(names.head)(spark, a.data).write.format("noop").mode("overwrite").save()
      cleanup(spark)
    }
    val spark = SparkSession.active
    val rng = new scala.util.Random(a.seed)

    // verification pass: untimed; it is also the warm-up that compiles
    // every query's generated code before the timed passes
    val v0 = nowMs
    rng.shuffle(names).foreach { n =>
      r.attempted += 1
      try {
        val df = queries(n)(spark, a.data)
        r.digests(n) = Digest.of(df.schema, df.collect())
      } catch { case t: Throwable => r.fail(s"$n (verify)", t) }
      finally cleanup(spark)
    }
    note(s"verify pass ms: ${(nowMs - v0).round}")

    val probes = if (a.trace) Some(Main.probes(spark)) else None
    val execs = mutable.ArrayBuffer[Exec]()
    val passMs = mutable.ArrayBuffer[Double]()
    val t0 = nowMs
    while (passMs.isEmpty || (nowMs - t0) + Intervals.median(passMs.toSeq) <= a.seconds * 1000.0) {
      val pass = passMs.size
      val p0 = nowMs
      rng.shuffle(names).foreach { n =>
        val key = s"$n#$pass"
        spark.sparkContext.setLocalProperty(SchedListener.SpanProp, key)
        r.attempted += 1
        val q0 = epochMs
        var built = q0
        var executed = q0
        try {
          val df = queries(n)(spark, a.data)
          built = epochMs
          df.write.format("noop").mode("overwrite").save()
          executed = epochMs
        } catch {
          case t: Throwable =>
            r.fail(key, t)
            if (built == q0) built = epochMs
            executed = epochMs
        } finally cleanup(spark)
        execs += Exec(n, key, q0, built, executed, epochMs)
      }
      spark.sparkContext.setLocalProperty(SchedListener.SpanProp, null)
      passMs += nowMs - p0
      note(s"pass $pass ms: ${passMs.last.round}")
    }
    val wallMs = nowMs - t0
    val lat = execs.map(e => e.end - e.start).toSeq
    val pass = Intervals.median(passMs.toSeq) / 1000.0
    val p50 = Intervals.median(lat)
    val p75 = Intervals.quantile(lat, 0.75)
    val p90 = Intervals.quantile(lat, 0.9)
    val m = r.metrics
    probes match {
      case None =>
        m("setup_s") = Intervals.median(setupMs) / 1000.0
        m("pass_s") = pass
        m("latency_p50_ms") = p50
        m("latency_p75_ms") = p75
      case Some(p) =>
        Telemetry.drain(spark)
        m("trace.pass_s") = pass
        m("trace.latency_p50_ms") = p50
        m("trace.latency_p75_ms") = p75
        m("trace.latency_p90_ms") = p90
        m("trace.samples") = lat.size.toDouble
        traceQueries(a, p, execs.toSeq, wallMs, m)
    }
  }

  /** Spans query -> build/execute -> job -> stage, and the per-layer totals. */
  private def traceQueries(a: Args, p: Probes, execs: Seq[Exec], wallMs: Double,
                           m: mutable.Map[String, Double]): Unit = {
    val t = p.tracer
    val s = p.sched
    var union, outside, maxRatio = 0.0
    val rows = execs.map { e =>
      val root = t.add(0, "query", e.name, e.key, e.start, e.end)
      val build = t.add(root, "build", "build", e.key, e.start, e.built)
      val exec = t.add(root, "execute", "execute", e.key, e.built, e.executed)
      val jobSpan = mutable.HashMap[Int, Long]()
      s.jobs.foreach { case (id, j) =>
        if (j.span == e.key && j.end >= 0) {
          val parent = if (j.start < e.built) build else exec
          jobSpan(id) = t.add(parent, "job", s"job $id", e.key, j.start.toDouble, j.end.toDouble)
        }
      }
      s.stages.foreach { case (id, st) =>
        if (st.span == e.key && st.complete >= 0)
          t.add(jobSpan.getOrElse(st.job, exec), "stage", s"stage $id", e.key,
            st.submit.toDouble, st.complete.toDouble)
      }
      val wall = e.end - e.start
      val u = Intervals.unionMs(s.jobIntervals(e.key))
      union += u
      outside += wall - u
      if (wall > 0) maxRatio = math.max(maxRatio, u / wall)
      s"""{"query":${Json.str(e.key)},"wall_ms":${Json.num(wall)},""" +
        s""""build_ms":${Json.num(e.built - e.start)},"exec_ms":${Json.num(e.executed - e.built)},""" +
        s""""jobs":${jobSpan.size},"job_union_ms":${Json.num(u)}}"""
    }
    m("entry.build_ms") = execs.map(e => e.built - e.start).sum
    m("entry.exec_ms") = execs.map(e => e.executed - e.built).sum
    m("driver.outside_job_ms") = outside
    m("sched.job_union_ms") = union
    m("sched.max_union_over_wall") = maxRatio
    execMetrics(p, wallMs, Cores, m)
    TraceFile.write(a, t, rows, m)
  }
}

/** The traced run's output: spans, per-query rows and per-layer metrics. */
object TraceFile {
  def write(a: Args, t: Tracer, rows: Seq[String], m: collection.Map[String, Double]): Unit = {
    val metrics = m.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
    val body = s"""{"workload":${Json.str(a.workload)},"seed":${a.seed},"metrics":$metrics,""" +
      s""""rows":${rows.mkString("[\n", ",\n", "\n]")},"spans":${t.json}}"""
    java.nio.file.Files.createDirectories(a.traceOut.getParent)
    java.nio.file.Files.writeString(a.traceOut, body + "\n")
  }
}
