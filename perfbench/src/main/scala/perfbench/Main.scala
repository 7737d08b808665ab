package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Benchmark harness: runs one workload against graft's public entry points
  * and writes its measurements as one JSON object to `--out`.
  *
  * `run.py` is the entry point; it builds this harness, stages the inputs
  * under a per-run root and launches it as
  * `perfbench.Main --workload W --seed N --seconds S --trace 0|1 --root DIR
  * --out FILE --trace-out FILE`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        root: Path, out: Path, traceOut: Path) {
    def data: String = root.resolve("data").toString
  }

  /** What one run hands back to `run.py`. */
  final class Result {
    var attempted = 0L
    var failed = 0L
    val errors = mutable.ArrayBuffer[String]()
    val checks = mutable.LinkedHashMap[String, Boolean]()
    val digests = mutable.LinkedHashMap[String, (Long, String)]()
    val metrics = mutable.LinkedHashMap[String, Double]()

    def fail(what: String, t: Throwable): Unit = {
      failed += 1
      errors += s"$what: ${t.getClass.getName}: ${String.valueOf(t.getMessage).take(300)}"
    }

    def json: String = {
      val d = digests.map { case (k, (n, h)) =>
        s"${Json.str(k)}:{\"rows\":$n,\"digest\":${Json.str(h)}}"
      }.mkString("{", ",", "}")
      val c = checks.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
      val m = metrics.map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")
      val e = errors.map(Json.str).mkString("[", ",", "]")
      s"""{"attempted":$attempted,"failed":$failed,"errors":$e,"checks":$c,"digests":$d,"metrics":$m}"""
    }
  }

  /** Listeners of the traced run; absent when tracing is off. */
  final class Probes(val tracer: Tracer, val sched: SchedListener, val plan: PlanListener)

  val Cores = 4

  def session(cores: Int, a: Args, tag: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.root.resolve("local").toString)
      .config("spark.sql.warehouse.dir", a.root.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", a.root.resolve(s"ckpt/$tag").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** Set-ups per run; `setup_s` is the median of their times. */
  val Setups = 2

  /** Run `body` on a fresh local[Cores] session `Setups` times, timing each
    * from session start; every session but the last is stopped.
    */
  def setUp(a: Args)(body: (SparkSession, Int) => Unit): Seq[Double] = {
    val ms = (1 to Setups).map { k =>
      val t0 = nowMs
      val spark = session(Cores, a, s"s$k")
      body(spark, k)
      val dt = nowMs - t0
      if (k < Setups) spark.stop()
      dt
    }
    note(s"setup ms: ${ms.map(_.round).mkString(" ")}")
    ms
  }

  def probes(spark: SparkSession): Probes = {
    val p = new Probes(new Tracer, new SchedListener, new PlanListener)
    spark.sparkContext.addSparkListener(p.sched)
    spark.listenerManager.register(p.plan)
    p
  }

  def nowMs: Double = System.nanoTime() / 1e6

  /** A progress line; `run.py` echoes these to its standard error. */
  def note(msg: String): Unit = println(s"[perfbench] $msg")

  /** Offset that maps `nowMs` onto epoch milliseconds, the clock Spark's
    * listener events use, so harness spans and Spark's spans line up.
    */
  lazy val epochOffset: Double = System.currentTimeMillis() - nowMs

  def epochMs: Double = nowMs + epochOffset

  /** VmHWM of this process, in MB. */
  def rssPeakMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Executor, shuffle and source counters over a whole run, shared by both
    * workload kinds.
    */
  def execMetrics(p: Probes, wallMs: Double, cores: Int, m: mutable.Map[String, Double]): Unit = {
    val s = p.sched
    m("sched.jobs") = s.jobs.size.toDouble
    m("sched.stages") = s.stages.size.toDouble
    m("sched.task_wait_ms") = s.waitMs.toDouble
    m("exec.task_ms") = s.taskMs.toDouble
    m("exec.cpu_ms") = s.cpuNs / 1e6
    m("exec.gc_ms") = s.gcMs.toDouble
    m("exec.peak_mem_mb") = s.peakMem / 1048576.0
    m("exec.busy_frac") = if (wallMs > 0) s.taskMs / (wallMs * cores) else 0.0
    m("shuffle.write_bytes") = s.shuffleWrite.toDouble
    m("shuffle.read_bytes") = s.shuffleRead.toDouble
    m("shuffle.spill_bytes") = s.spill.toDouble
    m("sources.input_bytes") = s.inputBytes.toDouble
    m("sources.output_bytes") = s.outputBytes.toDouble
    m("driver.actions") = p.plan.actions.toDouble
    m("driver.plan_ms") = p.plan.planMs
    Seq("scan", "agg", "sort", "hash_build", "shuffle_write").foreach { k =>
      m(s"ops.${k}_ms") = p.plan.opsMs(k)
    }
    val self = p.tracer.selfByKind
    Seq("query", "build", "execute", "job", "stage", "trigger", "phase").foreach { k =>
      m(s"self.${k}_ms") = self.getOrElse(k, 0.0)
    }
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val root = Paths.get(need("root")).toAbsolutePath
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", root, Paths.get(need("out")).toAbsolutePath,
      Paths.get(need("trace-out")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    note(s"harness started")
    val a = parse(argv)
    val r = new Result
    a.workload match {
      case "reference-batch" => BatchWorkload.run(a, Workloads.reference, r)
      case "corpus-batch" => BatchWorkload.run(a, Workloads.corpus, r)
      case "topology-stream" => StreamWorkload.run(a, r)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    r.metrics("rss_peak_mb") = rssPeakMb
    Files.writeString(a.out, r.json)
    val t0 = nowMs
    SparkSession.getActiveSession.foreach(_.stop())
    note(s"session stopped in ${(nowMs - t0).round} ms")
  }
}

/** The query lists of the two batch workloads. */
object Workloads {
  /** The reference-mirror queries: the paper's own analytics. */
  val reference: Seq[String] = Seq(
    "p1_branch", "p2_filter", "p6_composite_key", "p10_scrub", "a1_latest_user",
    "a2_last_seen", "a3_event_counts", "a4_daily_role_counts", "a5_streaks",
    "a5_streaks_ref8s", "a6_part_rollup", "a6_completion", "a6_parts_list",
    "a7_achievements", "a7_crossings", "a7_notifications", "a7_typed_counter",
    "j1_enrich", "j3_asof", "j4_semi_anti", "j5_interval", "j6_outer",
    "w1_top_spenders", "w2_hopping", "w3_rollup", "w4_inter_arrival",
    "w5_quartiles", "w6_pivot", "w7_unpivot", "q1_pricing", "q1_sql",
    "q3_top_orders", "q5_nation_revenue", "q6_corr_sub", "set_ops_engaged",
    "s3_event_replay", "s4_user_replay")

  /** Executor-heavy retrieval, dedup and ANN queries, including the rows
    * that write persisted index generations.
    */
  val corpus: Seq[String] = Seq(
    "ext_retrieval_eval", "ext_bm25_topk", "ext_bm25_capped", "ext_phrase_search",
    "ext_hybrid_rrf", "ext_hard_negatives", "ext_dedup_clusters", "ext_dedup_minhash",
    "ext_ngram_jaccard", "ext_simhash_pairs", "ext_fuzzy_match2", "ext_fuzzy_incremental2",
    "ext_crawl_pipeline", "ext_bpe_apply", "ann_recall", "ext_freq_cms",
    "ext_dedup_incremental", "ann_ivf_persisted", "ext_bm25_persisted")
}

/** Order-insensitive digest of a query's output: the schema, then every row
  * rendered canonically (doubles to 9 significant digits, floats to 6, maps
  * sorted by entry), sorted, and hashed with SHA-256.
  */
object Digest {
  private def round(d: Double, digits: Int): String =
    if (d.isNaN || d.isInfinite) d.toString
    else if (d == 0.0) "0"
    else new java.math.BigDecimal(d).round(new java.math.MathContext(digits))
      .stripTrailingZeros.toPlainString

  def render(v: Any): String = v match {
    case null => "null"
    case d: Double => round(d, 9)
    case f: Float => round(f.toDouble, 6)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case b: java.math.BigDecimal => b.stripTrailingZeros.toPlainString
    case t: java.sql.Timestamp => t.toInstant.toString
    case x => x.toString
  }

  def of(schema: StructType, rows: Array[Row]): (Long, String) = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",").getBytes("UTF-8"))
    rows.map(render).sorted.foreach { line =>
      md.update('\n'.toByte)
      md.update(line.getBytes("UTF-8"))
    }
    (rows.length.toLong, md.digest().map(x => f"$x%02x").mkString)
  }
}
