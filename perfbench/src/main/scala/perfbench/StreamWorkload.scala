package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.{Enrich, Ingest, Stats}
import graft.streaming.Topology

import Main._

/** The reference topology: the nine `Topology.stores` over a parquet file
  * source (the offline stand-in for Kafka) with memory sinks, in two phases.
  *
  *  - catch-up: the staged backlog (the events in `ts` order) is drained at
  *    `FilesPerTrigger` files per trigger; `pass_s` runs from the stores'
  *    start to the commit of the last store that has consumed every row;
  *  - live: an open loop publishes pre-staged files at the seeded due
  *    times in `plan.tsv`, on one thread that never waits on the engine;
  *    a file's freshness runs from its due time to the commit of the last
  *    store whose cumulative `numInputRows` covers it (the file source
  *    takes files oldest first, and `run.py` stages files with increasing
  *    modification times, each holding every event type so that no store's
  *    pushed-down filter can skip a whole file uncounted).
  *
  * The trigger interval (100 ms, not the reference's 10 s commit interval)
  * keeps freshness a measure of the engine rather than of the interval.
  *
  * The stores are then checked against their batch twins over every file
  * the source holds, as graft's TopologySpec does.
  */
object StreamWorkload {
  val FilesPerTrigger = 60
  val TriggerMs = 100L
  /** A file published later than this after its due time fails the run's
    * open-loop contract and counts as a failed operation.
    */
  val LateBoundMs = 500.0

  private final case class Staged(kind: String, file: Path, rows: Long, dueMs: Double)

  private def plan(a: Args): Seq[Staged] = {
    val dir = a.root.resolve("stream")
    Files.readAllLines(dir.resolve("plan.tsv")).toArray.toSeq.map(_.toString.split("\t")).map {
      case Array(k, f, n, due) => Staged(k, dir.resolve(f), n.toLong, due.toDouble)
    }
  }

  private def link(files: Seq[Staged], dir: Path): Path = {
    Files.createDirectories(dir)
    files.foreach(f => Files.createLink(dir.resolve(f.file.getFileName), f.file))
    dir
  }

  /** Start every store on `dir`; returns the queries and the ms spent
    * building the store plans.
    */
  private def start(spark: SparkSession, a: Args, dir: Path,
                    suffix: String): (Seq[StreamingQuery], Double) = {
    val t0 = nowMs
    val src = spark.readStream.schema(Topology.eventSchema)
      .option("maxFilesPerTrigger", FilesPerTrigger.toLong).parquet(dir.toString)
    val stores = Topology.stores(src, graft.Tables.customer(spark, a.data),
      watermark = Some("1 minute")).toSeq.sortBy(_._1)
    val built = nowMs - t0
    val qs = stores.map { case (name, df) =>
      Topology.startMemorySink(df, name + suffix, Trigger.ProcessingTime(TriggerMs))
    }
    (qs, built)
  }

  /** Cumulative input rows per store, in batch order, with commit times. */
  private def cumulative(events: Seq[ProgressListener.P], store: String): Seq[(Long, Double)] = {
    var sum = 0L
    events.filter(_.store == store).sortBy(_.batchId).map { p =>
      sum += p.inputRows
      (sum, p.commitAt.toDouble)
    }
  }

  /** When `store` first committed at least `rows` rows, or +inf. */
  private def reached(cum: Seq[(Long, Double)], rows: Long): Double =
    cum.find(_._1 >= rows).map(_._2).getOrElse(Double.PositiveInfinity)

  /** Wait until every query's progress events account for `rows` input
    * rows: `processAllAvailable` can return before the last batch's
    * progress event reaches the listener.
    */
  private def await(spark: SparkSession, qs: Seq[StreamingQuery], listener: ProgressListener,
                    rows: Long): Unit = {
    qs.foreach(_.processAllAvailable())
    val deadline = nowMs + 60000.0
    def done = {
      Telemetry.drain(spark)
      val ev = listener.snapshot
      qs.forall(q => reached(cumulative(ev, q.name), rows).isFinite)
    }
    while (!done && nowMs < deadline) Thread.sleep(50)
    val ev = listener.snapshot
    qs.foreach { q =>
      val c = cumulative(ev, q.name)
      if (!reached(c, rows).isFinite)
        note(s"${q.name} consumed ${c.lastOption.map(_._1).getOrElse(0L)} of $rows rows " +
          s"in ${c.size} batches; active=${q.isActive} exception=${q.exception}")
    }
  }

  /** Drain the backlog: returns seconds until the last store committed it
    * (infinite if one never did).
    */
  private def catchUp(spark: SparkSession, a: Args, backlog: Seq[Staged], dir: Path,
                      suffix: String, listener: ProgressListener): (Seq[StreamingQuery], Double, Double) = {
    link(backlog, dir)
    val t0 = epochMs
    val (qs, built) = start(spark, a, dir, suffix)
    val rows = backlog.map(_.rows).sum
    await(spark, qs, listener, rows)
    val ev = listener.snapshot
    val end = qs.map(q => reached(cumulative(ev, q.name), rows)).max
    (qs, (end - t0) / 1000.0, built)
  }

  def run(a: Args, r: Result): Unit = {
    val staged = plan(a)
    val backlog = staged.filter(_.kind == "backlog")
    val live = staged.filter(_.kind == "live")

    // set-up: session start, the stores started on the first backlog file
    // and run to completion (codegen and state-store paths warmed), stopped
    val setupMs = setUp(a) { (spark, k) =>
      val (qs, _) = start(spark, a, link(backlog.take(1), a.root.resolve(s"stream/warm$k")), s"_w$k")
      qs.foreach(_.processAllAvailable())
      qs.foreach(_.stop())
    }
    val spark = SparkSession.active
    val listener = new ProgressListener
    spark.streams.addListener(listener)
    val probes = if (a.trace) Some(Main.probes(spark)) else None

    val src = a.root.resolve("stream/src")
    val t0 = nowMs
    val (qs, drainS, builtMs) = catchUp(spark, a, backlog, src, "", listener)
    val names = qs.map(_.name)
    note(s"catch-up s: $drainS")

    // live phase: the generator thread publishes each staged file at its
    // due time with an atomic rename; it never looks at the engine
    val liveStart = epochMs + 100.0
    val published = new Array[Double](live.size)
    val gen = new Thread(() => live.zipWithIndex.foreach { case (f, i) =>
      val wait = liveStart + f.dueMs - epochMs
      if (wait > 0) Thread.sleep(wait.toLong, ((wait % 1.0) * 1e6).toInt)
      Files.move(f.file, src.resolve(f.file.getFileName), StandardCopyOption.ATOMIC_MOVE)
      published(i) = epochMs
    }, "perfbench-generator")
    gen.start()
    gen.join()
    await(spark, qs, listener, staged.map(_.rows).sum)
    qs.foreach(_.stop())
    val wallMs = nowMs - t0

    val ev = listener.snapshot.filter(p => names.contains(p.store))
    val cums = names.map(n => cumulative(ev, n))
    val backlogRows = backlog.map(_.rows).sum
    val need = live.map(_.rows).scanLeft(backlogRows)(_ + _).tail
    val due = live.map(liveStart + _.dueMs)
    val fresh = need.zip(due).map { case (n, d) => cums.map(reached(_, n)).max - d }
    val late = published.zip(due).map { case (p, d) => p - d }
    note(s"live files: ${live.size}, freshness ms: ${fresh.map(_.round).mkString(" ")}")
    note(s"generator late ms max: ${late.max}")

    r.attempted += staged.size
    r.failed += late.count(_ > LateBoundMs)
    r.failed += fresh.count(_.isInfinite)
    if (drainS.isInfinite) {
      r.failed += backlog.size
      r.errors += "the backlog was not drained by every store"
    }
    verify(spark, src, names, r)

    val m = r.metrics
    probes match {
      case None =>
        m("setup_s") = Intervals.median(setupMs) / 1000.0
        m("pass_s") = drainS
        m("latency_p50_ms") = Intervals.median(fresh)
        m("latency_p75_ms") = Intervals.quantile(fresh, 0.75)
      case Some(p) =>
        m("trace.pass_s") = drainS
        m("trace.latency_p50_ms") = Intervals.median(fresh)
        m("trace.latency_p75_ms") = Intervals.quantile(fresh, 0.75)
        m("trace.latency_p90_ms") = Intervals.quantile(fresh, 0.9)
        m("trace.samples") = fresh.size.toDouble
        m("entry.build_ms") = builtMs
        m("entry.exec_ms") = wallMs
        m("gen.late_ms") = late.max
        // the most files published but not yet consumed by every store,
        // sampled at each publish
        m("topology.source_lag_files") = published.indices.map { i =>
          val consumed = cums.map { c =>
            val rows = c.filter(_._2 <= published(i)).map(_._1).lastOption.getOrElse(0L)
            need.count(_ <= rows)
          }.min
          (i + 1 - consumed).toDouble
        }.max
        topologyMetrics(ev, names, m)
        val rows = traceTriggers(p.tracer, ev)
        execMetrics(p, wallMs, Cores, m)
        m("sched.job_union_ms") = Intervals.unionMs(
          p.sched.jobs.values.filter(_.end >= 0).map(j => (j.start.toDouble, j.end.toDouble)).toSeq)
        m("driver.outside_job_ms") = wallMs - m("sched.job_union_ms")
        m("sched.max_union_over_wall") = m("sched.job_union_ms") / wallMs
        m("baseline.local1_pass_s") = baseline(a, backlog)
        TraceFile.write(a, p.tracer, rows, m)
    }
  }

  private val phases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  private def topologyMetrics(ev: Seq[ProgressListener.P], names: Seq[String],
                              m: mutable.Map[String, Double]): Unit = {
    val busy = ev.filter(_.inputRows > 0)
    m("topology.triggers") = ev.size.toDouble
    m("topology.trigger_p50_ms") = Intervals.median(busy.map(_.triggerMs.toDouble))
    m("topology.empty_trigger_frac") =
      if (ev.isEmpty) 0.0 else (ev.size - busy.size).toDouble / ev.size
    phases.foreach { ph =>
      val key = ph.replaceAll("([A-Z])", "_$1").toLowerCase
      m(s"topology.${key}_ms") = ev.map(_.durations.getOrElse(ph, 0L)).sum.toDouble
    }
    val perStore = names.map(n => Intervals.median(busy.filter(_.store == n).map(_.triggerMs.toDouble)))
    val med = Intervals.median(perStore)
    m("topology.store_skew") = if (med > 0) perStore.max / med else 0.0
    val last = names.flatMap(n => ev.filter(_.store == n).sortBy(_.batchId).lastOption)
    m("state.rows") = last.map(_.stateRows).sum.toDouble
    m("state.mem_mb") = last.map(_.stateBytes).sum / 1048576.0
    m("state.update_ms") = ev.map(_.updateMs).sum.toDouble
    m("state.commit_ms") = ev.map(_.commitMs).sum.toDouble
    m("state.dropped_late_rows") = ev.map(_.dropped).sum.toDouble
  }

  /** Trigger spans with their `durationMs` phases laid out in execution
    * order from the trigger's start.
    */
  private def traceTriggers(t: Tracer, ev: Seq[ProgressListener.P]): Seq[String] =
    ev.map { p =>
      val key = s"${p.store}#${p.batchId}"
      val root = t.add(0, "trigger", p.store, key, p.startMs.toDouble, p.commitAt.toDouble)
      var at = p.startMs.toDouble
      phases.foreach { ph =>
        val d = p.durations.getOrElse(ph, 0L).toDouble
        t.add(root, "phase", ph, key, at, at + d)
        at += d
      }
      s"""{"trigger":${Json.str(key)},"input_rows":${p.inputRows},""" +
        s""""trigger_ms":${p.triggerMs},"state_rows":${p.stateRows}}"""
    }

  /** Convergence checks against the batch twins over every source file. */
  private def verify(spark: SparkSession, src: Path, names: Seq[String], r: Result): Unit = {
    import spark.implicits._
    def check(name: String)(ok: => Boolean): Unit = {
      r.attempted += 1
      val passed = try ok catch { case t: Throwable => r.fail(name, t); false }
      r.checks(name) = passed
      if (!passed) r.failed += 1
    }
    val all: DataFrame = spark.read.schema(Topology.eventSchema).parquet(src.toString)
    check("stores_nonempty")(names.forall(n => spark.table(n).count() > 0))
    check("store_log_event_counts") {
      val batch = Stats.eventTypeCounts(Ingest.mainBranch(all)).as[(String, Long)].collect().toMap
      val stream = spark.table("store_log_event_counts").groupBy("event_type")
        .agg(max("n").as("n")).as[(String, Long)].collect().toMap
      batch == stream
    }
    check("store_user_data") {
      val batch = Enrich.latestUser(all)
        .select(col("user_id"), col("last_update_ts").cast("long"), col("last_value"))
        .as[(Long, Long, Double)].collect().map(x => x._1 -> (x._2, x._3)).toMap
      val stream = spark.table("store_user_data").groupBy("user_id")
        .agg(max_by(struct(col("last_update_ts").cast("long"), col("last_value")),
          col("last_update_ts")).as("u"))
        .select(col("user_id"), col("u.*")).as[(Long, Long, Double)].collect()
        .map(x => x._1 -> (x._2, x._3)).toMap
      batch == stream
    }
    check("store_anonymous_events") {
      spark.table("store_anonymous_events").count() == Ingest.anonymousBranch(all).count()
    }
  }

  /** The catch-up phase alone on one core: the single-threaded reference
    * point for `pass_s`.
    */
  private def baseline(a: Args, backlog: Seq[Staged]): Double = {
    SparkSession.active.stop()
    val spark = session(1, a, "local1")
    val listener = new ProgressListener
    spark.streams.addListener(listener)
    val (qs, s, _) = catchUp(spark, a, backlog, a.root.resolve("stream/src1"), "_local1", listener)
    qs.foreach(_.stop())
    s
  }
}
