package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The decisions every entrypoint (Bench, Verify, Probe) shares: how the
  * local session is built, what one measured run launched, how a timing is
  * taken and how a corpus is scaled by copies.
  */
object Harness {

  /** Core count of the local session: `SPARK_GRAFT_CPUS`, default 4. */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  /** The local session: `local[cpus]`, one shuffle partition per core,
    * UTC, no UI, log level ERROR.
    */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // legacy events.parquet vintages are TIMESTAMP(NANOS); session-wide
      // (see Tables.events — harmless for the micros layout)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    // ERROR, not WARN: Bench's JSON line is read from the LAST 2000 chars
    // of its output, and per-query cleanup (unpersisting localCheckpoint
    // blocks) emits a WARN per block. Nothing may print after that line.
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** One measured run: its wall seconds, the summed task run and GC time
    * of its completed stages, job and stage counts, and the wall time
    * covered by at least one running job.
    */
  final case class Run(wall: Double, execMs: Long, gcMs: Long, jobs: Long,
                       stages: Long, jobWallMs: Long)

  /** Wall time covered by the union of `[start, end]` intervals. AQE
    * broadcast and subquery jobs overlap their parent job, so a plain sum
    * of job durations can exceed the wall of the query that ran them.
    */
  def unionMs(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { total += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    total + hi - lo
  }

  /** The one SparkListener: task, stage and job counters for the window
    * [[measure]] opens. Install with [[listen]].
    */
  final class MetricsListener extends SparkListener {
    private var execMs, gcMs, jobs, stages = 0L
    private val started = scala.collection.mutable.HashMap[Int, Long]()
    private val ended = scala.collection.mutable.ArrayBuffer[(Long, Long)]()

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        stages += 1
        val m = e.stageInfo.taskMetrics
        if (m != null) { execMs += m.executorRunTime; gcMs += m.jvmGCTime }
      }
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += 1
      started(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      started.remove(e.jobId).foreach(s => ended += ((s, e.time)))
    }

    /** Runs and times `body` and returns what it launched. The listener
      * bus is drained on both sides, outside the timed window, so the
      * counts hold every event of `body` and none of an earlier run.
      */
    def measure(spark: SparkSession)(body: => Unit): Run = {
      drainListenerBus(spark)
      synchronized { execMs = 0; gcMs = 0; jobs = 0; stages = 0; ended.clear() }
      val t0 = System.nanoTime()
      body
      val wall = (System.nanoTime() - t0) / 1e9
      drainListenerBus(spark)
      synchronized(Run(wall, execMs, gcMs, jobs, stages, unionMs(ended.toSeq)))
    }
  }

  /** A [[MetricsListener]] registered on `spark`. */
  def listen(spark: SparkSession): MetricsListener = {
    val l = new MetricsListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Flush the async listener bus so a snapshot sees every event of the
    * run that just finished. `listenerBus`/`waitUntilEmpty` are
    * private[spark] in source but public in bytecode — reflection keeps
    * this harness on the unmanaged-jar classpath without forking a
    * package. Best-effort: telemetry beats nothing, a timeout must not
    * fail the run.
    */
  def drainListenerBus(spark: SparkSession): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long])
        .invoke(bus, java.lang.Long.valueOf(10000L))
      ()
    } catch { case _: Throwable => () }

  /** Release per-query persists AND any localCheckpoint blocks —
    * clearCache only covers CacheManager entries, while checkpoint blocks
    * (e.g. the dedup fixpoint's final round) are raw RDD persists that
    * would otherwise accumulate across queries.
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }

  /** Median-of-3 wall seconds of materializing `mk` to a noop sink. */
  def median3(mk: => DataFrame): Double =
    (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      mk.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }.sorted.apply(1)

  /** `max(id) + 1` of a non-negative id column: shifting copy `c` by
    * `c × stride` keeps every copy's ids disjoint from every other's.
    */
  def idStride(df: DataFrame, idCol: String): Long = {
    val r = df.agg(min(col(idCol)), max(col(idCol))).head()
    require(!r.isNullAt(0) && r.getAs[Number](0).longValue >= 0,
      s"$idCol must be non-negative to be shifted per copy (min ${r.get(0)})")
    r.getAs[Number](1).longValue + 1
  }

  /** `times` copies of `base`: copy `c` shifts each of `idCols` by
    * `c × idStride`, then `perCopy(frame, c)` applies the caller's
    * per-copy transform (copy 0's shift is zero). Each id column's
    * `times × stride` must stay at or below `ceiling`, the first id value
    * the caller reserves for something else.
    */
  def copies(base: DataFrame, idCols: Seq[String], times: Int,
             ceiling: Long = Long.MaxValue)
            (perCopy: (DataFrame, Int) => DataFrame): DataFrame = {
    val strides = idCols.map { c =>
      val s = idStride(base, c)
      require(times.toLong * s <= ceiling,
        s"$times copies of $c at stride $s pass the id ceiling $ceiling")
      c -> s
    }
    (0 until times).map { c =>
      val shifted = strides.foldLeft(base) { case (df, (name, s)) =>
        df.withColumn(name, col(name) + lit(c * s))
      }
      perCopy(shifted, c)
    }.reduce(_ unionByName _)
  }
}
