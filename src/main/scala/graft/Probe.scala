package graft

import java.nio.file.{Files, Path}
import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.ext.{Curation, Dedup, Fuzzy, Multimodal, Retrieval, Similarity,
  Sketches, TextAnalysis, TimeSeries}
import graft.operators.{Enrich, Stats}
import graft.streaming.Topology

/** The diagnostics main: `graft.Probe <entry> [args…]` runs one entry of
  * [[entries]] on a [[Harness.session]] and prints its rows (JSON rows are
  * the ones SCALE.md's "Measured evidence" sections record). Entries that
  * read test data take the scale-factor directory from
  * `SPARK_GRAFT_SF_DIR`. Every directory an entry writes lives under one
  * temp root per run, deleted on exit. An unknown entry name exits 2 and
  * prints the known ones.
  */
object Probe {

  type Entry = (SparkSession, Seq[String]) => Unit

  val entries: Map[String, Entry] = Map(
    "explain" -> explain _,
    "stream_smoke" -> streamSmoke _,
    "ivf_train_fixpoint" -> ivfTrainFixpoint _,
    "lsh_sizing" -> lshSizing _,
    "ivf_hier" -> ivfHier _,
    "recall" -> recall _,
    "cluster" -> cluster(skew = false) _,
    "cluster_skew" -> cluster(skew = true) _,
    "retrieval" -> retrieval(skew = false) _,
    "retrieval_skew" -> retrieval(skew = true) _,
    "tsmedia" -> tsMedia(skew = false) _,
    "tsmedia_skew" -> tsMedia(skew = true) _,
    "behavior" -> behavior(skew = false) _,
    "behavior_skew" -> behavior(skew = true) _,
    "behavior_state" -> behaviorState _,
    "interval_state" -> intervalState _,
    "lsm" -> lsm _,
    "fuzzy" -> fuzzy _,
    "fuzzy_d2" -> fuzzyD2 _,
    "fuzzy_lsm" -> fuzzyLsm _,
    "fuzzy_phase" -> fuzzyPhase _,
    "fuzzy_phase_inc2" -> fuzzyPhaseInc2 _,
    "fuzzy_phase_match2" -> fuzzyPhaseMatch2 _,
    "gates" -> gates _,
    "gate_pipeline" -> gatePipeline _,
    "textops" -> textOps _,
    "text_substr" -> textSubstr _,
    "text_skew" -> textSkew _,
    "rung" -> rung _)

  def main(args: Array[String]): Unit = {
    val entry = args.headOption.flatMap(entries.get).getOrElse {
      System.err.println(s"PROBE UNKNOWN ENTRY ${args.headOption.getOrElse("(none)")}; " +
        s"known: ${entries.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    }
    val spark = Harness.session()
    try entry(spark, args.toSeq.drop(1))
    finally {
      spark.stop()
      root.foreach(deleteTree)
    }
  }

  // ---- shared plumbing ----------------------------------------------------

  private var root: Option[Path] = None

  /** A fresh directory under this run's temp root. */
  private def tmpDir(name: String): String = synchronized {
    val r = root.getOrElse {
      val p = Files.createTempDirectory("graft-probe-")
      root = Some(p)
      p
    }
    Files.createDirectories(r.resolve(name)).toString
  }

  private def deleteTree(p: Path): Unit =
    try {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(f => Files.deleteIfExists(f))
      finally walk.close()
    } catch { case scala.util.control.NonFatal(_) => () }

  private def sf: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
    sys.error("SPARK_GRAFT_SF_DIR must name a scale-factor directory"))

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Two-decimal rounding for the JSON rows. */
  private def r2(x: Double): Double = math.round(x * 100) / 100.0

  // ---- per-copy transforms for Harness.copies -----------------------------

  /** Copy `c`'s 64 embedding dims rotated by `c % 64`, so each copy's sign
    * pattern / centroid affinity differs — scaling by plain replication
    * would replicate the base bucket distribution and fake uniformity.
    */
  def rotateDims(df: DataFrame, c: Int): DataFrame = {
    val r = c % 64
    df.withColumn("embedding",
      expr(s"concat(slice(embedding, ${r + 1}, ${64 - r}), slice(embedding, 1, $r))"))
  }

  private def embCopies(base: DataFrame, times: Int): DataFrame =
    Harness.copies(base, Seq("vec_id"), times)(rotateDims)

  private def idCopies(base: DataFrame, idCols: Seq[String], times: Int): DataFrame =
    Harness.copies(base, idCols, times)((df, _) => df)

  // ---- plans and the streaming topology -----------------------------------

  /** Formatted physical plan of the named queries (default: all), so
    * pushdown / broadcast / codegen spans can be audited (PLANS.md).
    */
  private def explain(spark: SparkSession, names: Seq[String]): Unit =
    (if (names.nonEmpty) names else SparkEntry.queries.keys.toSeq.sorted).foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sf).explain("formatted")
    }

  /** Smoke of the full streaming topology: replays the events table through
    * a file source, fans out to every named store, processes to
    * completion, and prints one line per store with its converged row
    * count.
    */
  private def streamSmoke(spark: SparkSession, args: Seq[String]): Unit = {
    val events = tmpDir("stream_smoke_events")
    Tables.events(spark, sf).write.mode("overwrite").parquet(events)
    val stores = Topology.stores(Topology.fileSource(spark, events),
      Tables.customer(spark, sf), watermark = Some("1 minute"))
    val queries = stores.map { case (name, df) =>
      name -> Topology.startMemorySink(df, name, Trigger.ProcessingTime("100 milliseconds"))
    }
    queries.values.foreach(_.processAllAvailable())
    queries.values.foreach(_.stop())
    stores.keys.toSeq.sorted.foreach { name =>
      println(s"[stream-smoke] $name rows=${spark.table(name).count()}")
    }
  }

  // ---- ANN family ---------------------------------------------------------

  /** Has Lloyd training reached its assignment fixed point after the
    * default 2 iterations? Compares the LAST training assignment (against
    * the iteration-1 centroids) with the search assignment (against the
    * final centroids) — if they agree, the trained-IVF search can reuse
    * the final E-step as its posting lists and skip one full corpus pass
    * without changing any answer.
    */
  private def ivfTrainFixpoint(spark: SparkSession, args: Seq[String]): Unit = {
    val emb = Tables.embeddings(spark, sf)
    val k = Similarity.IvfClusters
    val c1 = Similarity.trainIvfCentroids(emb, k, iters = 1)
    val c2 = Similarity.trainIvfCentroids(emb, k, iters = 2)
    val a1 = Similarity.assignTo(emb, c1, 1).select("vec_id", "cluster_id")
    val a2 = Similarity.assignTo(emb, c2, 1).select("vec_id", "cluster_id")
    val diff = a1.as("l").join(a2.as("r"), "vec_id")
      .filter(col("l.cluster_id") =!= col("r.cluster_id")).count()
    println(s"[ivf_train_fixpoint] sf=$sf n=${emb.count()} assignment diffs c1-vs-c2: $diff")
  }

  /** The ANN sizing rule: sign-LSH bucket-size distribution and kernel
    * search time at 1×/10×/100× corpus size under three configurations —
    * fixed bucket count (the misconfiguration the sizing rule exists to
    * prevent), the sizing rule (signBits grown by ~log2(scale)), and the
    * hot-bucket cap.
    */
  private def lshSizing(spark: SparkSession, args: Seq[String]): Unit = {
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // JVM/codegen warmup so the first measured tier isn't inflated
    noop(Similarity.lshTopNeighbor(base))
    Seq(1, 10, 100).foreach { times =>
      val emb = embCopies(base, times).localCheckpoint(true)
      val n = emb.count()
      // sizing rule: signBits ≈ 8 + log2(scale) keeps expected bucket size
      // constant as the corpus grows; 8 held fixed shows the quadratic blowup
      val sized = 8 + (math.log(times.toDouble) / math.log(2.0)).round.toInt
      // the measure-then-size hook must reproduce the manual ladder from
      // the corpus alone (one count pass)
      val auto = Similarity.autoSignBits(emb)
      println(s"""{"probe":"auto_signbits","scale":$times,"n":$n,""" +
        s""""auto":$auto,"manual_sized":$sized}""")
      Seq(8, sized).distinct.foreach { signBits =>
        val h = emb
          .groupBy(Similarity.signBucket(col("embedding"), signBits).as("bucket"))
          .agg(count(lit(1)).as("c"))
          .agg(count(lit(1)).as("buckets"), max("c").as("maxb"),
            expr("CAST(avg(c) AS DOUBLE)").as("avgb"),
            sum(col("c") * col("c")).as("sumsq"))
          .collect()(0)
        println(s"""{"probe":"hist","scale":$times,"n":$n,"signBits":$signBits,""" +
          s""""buckets":${h.getLong(0)},"max_bucket":${h.getLong(1)},""" +
          f""""avg_bucket":${h.getDouble(2)}%.1f,"sum_sq":${h.getLong(3)}}""")
        val t = Harness.median3(Similarity.lshTopNeighbor(emb, signBits))
        println(f"""{"probe":"lsh","scale":$times,"signBits":$signBits,"sec":$t%.2f}""")
      }
      val tCap = Harness.median3(Similarity.lshTopNeighbor(emb, 8, maxBucket = 512))
      println(f"""{"probe":"lsh_capped512","scale":$times,"signBits":8,"sec":$tCap%.2f}""")
      emb.unpersist(blocking = true)
    }
  }

  /** The hierarchical IVF router: flat assignment scores all k₂ centroids
    * per row, the two-level route scores k₁ + |group| ≈ k₁ + k₂/k₁ — so
    * the router's advantage should WIDEN as the codebook grows with the
    * corpus (k₂ ≈ √N). End-to-end flat vs hier IVF top-1 wall at growing
    * corpus×codebook tiers.
    */
  private def ivfHier(spark: SparkSession, args: Seq[String]): Unit = {
    val base = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    // warmup: compile both plan families once
    noop(Similarity.ivfTopNeighbor(base, 16))
    noop(Similarity.ivfTopNeighborHier(base, 4, 16))
    // codebook grows as ~sqrt(N) with the corpus (the SIZING rule); k1 ~
    // sqrt(k2). Both forms pick the centroids vec_id < k2 of the same
    // scaled corpus, so they use the identical centroid set at every tier.
    Seq((1, 64, 8), (4, 128, 12), (16, 256, 16), (64, 512, 23)).foreach {
      case (times, k2, k1) =>
        val emb = embCopies(base, times).localCheckpoint(true)
        val n = emb.count()
        val tFlat = Harness.median3(Similarity.ivfTopNeighbor(emb, k2))
        val tHier = Harness.median3(Similarity.ivfTopNeighborHier(emb, k1, k2))
        println(f"""{"probe":"ivf_flat_vs_hier","scale":$times,"n":$n,"k2":$k2,"k1":$k1,""" +
          f""""flat_sec":$tFlat%.2f,"hier_sec":$tHier%.2f,"speedup":${tFlat / tHier}%.2f}""")
        emb.unpersist(blocking = true)
    }
  }

  /** The recall harness (the suite's most expensive query): times each ANN
    * branch standalone, prints the ADC plan, then runs `ann_recall`
    * end-to-end three times with its job/stage/exec counts. Run it before
    * and after touching anything under `ext/Similarity.scala`.
    */
  private def recall(spark: SparkSession, args: Seq[String]): Unit = {
    val fn = SparkEntry.queries("ann_recall")
    // warmup (trains + caches artifacts, JIT)
    noop(fn(spark, sf))
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
      .localCheckpoint(true)
    def t(label: String)(mk: => DataFrame): Unit =
      println(f"branch $label: median ${Harness.median3(mk)}%.2f s")
    t("brute_truth")(Similarity.bruteForceTopK(emb, 100, 1))
    t("sq8_100")(Similarity.sq8TopK(emb, 100, 1))
    t("sq8_20")(Similarity.sq8TopK(emb, 20, 1))
    t("ivfpq_100")(Similarity.ivfPqTop1(emb, 100))
    t("lsh_tables")(Similarity.lshTopNeighbor(emb))
    t("pq_adc_100")(Similarity.pqAdcTopK(emb, 100, 1))
    t("pq_adc_20")(Similarity.pqAdcTopK(emb, 20, 1))
    println("=== pqAdcTopK(100,1) formatted plan ===")
    println(Similarity.pqAdcTopK(emb, 100, 1).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode).take(6000))
    val metrics = Harness.listen(spark)
    (1 to 3).foreach { r =>
      Harness.release(spark)
      val c = metrics.measure(spark)(noop(fn(spark, sf)))
      println(f"rep$r: ${c.wall}%.2f s, jobs=${c.jobs}, stages=${c.stages}, " +
        s"task exec=${c.execMs}ms, job wall=${c.jobWallMs}ms")
    }
  }

  /** The CLUSTER-keyed curation operators — [[Similarity.semDedup]] and
    * [[Similarity.clusterLabels]]: wall time at 1×/4×/16× population
    * growth, or (`skew`) under a hot cluster.
    *
    * The regime mirrors `lsh_sizing`'s sign-LSH ladder, with the knob
    * renamed: semDedup's pair kernel is bucket-local on cluster_id, so a
    * FIXED k turns corpus growth into quadratic Σ cluster² work — the fix
    * is sizing k ≈ N/targetCluster (linear bucket-count growth), and
    * `maxBucket` is the guard for the skewed tail sizing can't remove
    * (clusters skew harder than sign buckets: assignment is semantic, not
    * hash-uniform). clusterLabels has NO quadratic term — its per-cluster
    * work is a WindowGroupLimit-pruned rank over aggregated (cluster,
    * token) rows — so its wall should stay ~linear even at fixed k; the
    * probe measures that claim rather than assuming it.
    *
    * Skew: `hot` extra vectors share one centroid's first 32 dims (they
    * pile into few clusters — the measured `max_cluster` is printed) with
    * jittered back halves keeping mutual cosine below the semDedup
    * threshold, so the kernel does Θ(hot²) work without emitting Θ(hot²)
    * pair rows — isolating gather/kernel cost from output size. Guarded,
    * the hot cluster hash-splits into bounded shard groups.
    */
  private def cluster(skew: Boolean)(spark: SparkSession, args: Seq[String]): Unit = {
    val emb = Tables.embeddings(spark, sf).select("vec_id", "embedding")
    val docs = Tables.documents(spark, sf).select("doc_id", "text")

    def clusterHist(e: DataFrame, k: Int): (Long, Long) = {
      val h = Similarity.assignToCentroids(e, k, 1)
        .filter(col("crank") === 1)
        .groupBy("cluster_id").agg(count(lit(1)).as("c"))
        .agg(max("c").as("maxc"), sum(col("c") * col("c")).as("sumsq"))
        .collect()(0)
      (h.getLong(0), h.getLong(1))
    }

    // warmup: codegen + kernel registration off the measured path
    noop(Similarity.semDedup(emb, 0.95))
    noop(Similarity.clusterLabels(emb, docs))

    if (skew) {
      // first 32 dims of vector 0 (a centroid of the first-K quantizer):
      // shared head → the copies chase centroid 0; jittered tail → mutual
      // cosine well under 0.95, so pair OUTPUT stays tiny while pair WORK
      // is Θ(hot²)
      val head = emb.filter(col("vec_id") === 0L)
        .select("embedding").collect()(0).getSeq[Float](0).take(32)
      Seq(8192, 32768).foreach { hot =>
        val tail = (32 until 64).map(d =>
          ((pmod(xxhash64(col("id") * lit(d + 1)), lit(1000L)).cast("double")
            / 1000.0d) - 0.5d).cast("float"))
        val hotVecs = spark.range(hot).select(
          (col("id") + 10000000L).as("vec_id"),
          array(head.map(v => lit(v).cast("float")) ++ tail: _*).as("embedding"))
        val ev = emb.unionByName(hotVecs).localCheckpoint(true)
        val hotDocs = docs.unionByName(
          spark.range(hot).select((col("id") + 10000000L).as("doc_id"),
            lit("hot hot hot common text payload").as("text")))
          .localCheckpoint(true)
        try {
          val (maxc, sumsq) = clusterHist(ev, Similarity.IvfClusters)
          val s0 = Harness.median3(Similarity.semDedup(ev, 0.95,
            maxBucket = Similarity.NoMaxBucket))
          val s1 = Harness.median3(Similarity.semDedup(ev, 0.95,
            maxBucket = Similarity.MaxBucket))
          val l0 = Harness.median3(Similarity.clusterLabels(ev, hotDocs))
          println(s"""{"probe":"cluster_skew","hot":$hot,"max_cluster":$maxc,""" +
            s""""sum_sq":$sumsq,"semdedup_s":${r2(s0)},""" +
            s""""semdedup_capped_s":${r2(s1)},"labels_s":${r2(l0)}}""")
        } finally { ev.unpersist(); hotDocs.unpersist() }
      }
    } else Seq(1, 4, 16).foreach { times =>
      // dim-rotated copies: each copy's centroid affinity differs, so the
      // cluster distribution stays realistic instead of replicating the
      // base corpus k times
      val ev = embCopies(emb, times).localCheckpoint(true)
      val dv = idCopies(docs, Seq("doc_id"), times).localCheckpoint(true)
      try {
        val n = ev.count()
        // fixed k — the misconfiguration; sized k — the N/targetCluster rule
        val kFixed = Similarity.IvfClusters
        val kSized = Similarity.IvfClusters * times
        // dedup on k (at 1× fixed == sized — one measurement, one row)
        Seq(("fixed", kFixed), ("sized", kSized)).distinctBy(_._2)
          .foreach { case (mode, k) =>
          val (maxc, sumsq) = clusterHist(ev, k)
          val sd = Harness.median3(Similarity.semDedup(ev, 0.95, k))
          val cl = Harness.median3(Similarity.clusterLabels(ev, dv, k))
          println(s"""{"probe":"cluster","scale":$times,"n":$n,"k":$k,""" +
            s""""mode":"$mode","max_cluster":$maxc,"sum_sq":$sumsq,""" +
            s""""semdedup_s":${r2(sd)},"labels_s":${r2(cl)}}""")
        }
      } finally { ev.unpersist(); dv.unpersist() }
    }
  }

  // ---- retrieval, time series, media, behavior ----------------------------

  /** The retrieval family: wall time of the one-shot BM25 pipeline and
    * phrase search at 1×/4×/16× corpus size. Each scaled copy gets a
    * DISJOINT vocabulary (every token suffixed with its copy id) —
    * web-corpus growth is Heap's-law growth (more data brings more
    * vocabulary), so queries from one copy must not match every other
    * copy's docs; scaling by verbatim replication on this ~31-word
    * uniform-vocabulary test corpus would instead measure the worst case
    * where every query's candidate set is the whole corpus (the same
    * artifact BASELINE.md documents for the Jaccard join). Query load
    * scales WITH the corpus (the % 97 carve), so the measured exponent
    * covers the production situation — bigger corpus, more queries — not
    * a fixed probe set.
    *
    * Skew — the Zipf-head case the df ceiling exists for: every doc (and
    * therefore every query) carries a corpus-wide stopword, so the
    * uncapped probe joins each query against a corpus-sized posting list
    * while the capped probe drops that term after the df window.
    */
  private def retrieval(skew: Boolean)(spark: SparkSession, args: Seq[String]): Unit = {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    Seq(1, 4, 16).foreach { times =>
      val scaled = Harness.copies(base, Seq("doc_id"), times) { (df, c) =>
        df.withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1c$c"))
      }
      val corpus = (if (skew) Retrieval.withHotTermInjected(scaled) else scaled)
        .localCheckpoint(true)
      try {
        val n = corpus.count()
        val bm = Harness.median3(Retrieval.bm25TopK(corpus))
        val ph = Harness.median3(Retrieval.phraseSearchTopDocs(corpus))
        if (skew) {
          val bm1 = Harness.median3(Retrieval.bm25TopK(corpus, maxDfPpm = Retrieval.DfCapPpm))
          val ph1 = Harness.median3(Retrieval.phraseSearch(corpus,
            Retrieval.phraseQueries(corpus), Retrieval.DfCapPpm))
          println(s"""{"probe":"retrieval_skew","scale":$times,"docs":$n,""" +
            s""""bm25_s":${r2(bm)},"bm25_capped_s":${r2(bm1)},""" +
            s""""phrase_s":${r2(ph)},"phrase_capped_s":${r2(ph1)}}""")
        } else
          println(s"""{"probe":"retrieval","scale":$times,"docs":$n,""" +
            s""""bm25_s":${r2(bm)},"phrase_s":${r2(ph)}}""")
      } finally corpus.unpersist()
    }
  }

  /** The SAX time-series and media near-dup searches: wall time at
    * 1×/4×/16×/64× input size, with the hot-bucket guard off and on.
    *
    * Scaling is by population growth — more users with the same
    * behavioral day span, more media docs with perturbed payloads — which
    * is exactly the regime where these two operators' bucket counts DON'T
    * grow (SAX words are capped at alphabet^segs, sign patterns at
    * 2^dims), so mean bucket size grows linearly with the corpus and the
    * unguarded kernel's Σ bucket² work term grows quadratically. The
    * guarded run is the posture the operators ship for big corpora:
    * maxBucket hash-sharding bounds every gathered list, trading the
    * quadratic term for corpus-linear sharded groups.
    *
    * Skew — the scenario the guard exists for: the population grows by
    * users/docs that all land in ONE bucket (a corpus-wide "inactive" SAX
    * word; one viral payload's sign pattern) while the rest of the corpus
    * stays put. Unguarded, that bucket's kernel call is a single
    * Θ(hot²·dims) task; guarded, it hash-splits into bounded shard groups.
    */
  private def tsMedia(skew: Boolean)(spark: SparkSession, args: Seq[String]): Unit = {
    val events = Tables.events(spark, sf).select("user_id", "ts")
    val media = Multimodal.asMedia(
      Tables.documents(spark, sf).select("doc_id", "text"))
    def timings(ev: DataFrame, md: DataFrame): String = {
      val ts0 = Harness.median3(TimeSeries.tsTopNeighbor(ev, Similarity.NoMaxBucket))
      val ts1 = Harness.median3(TimeSeries.tsTopNeighbor(ev, Similarity.MaxBucket))
      val md0 = Harness.median3(Multimodal.mediaTopNeighbor(spark, md, Similarity.NoMaxBucket))
      val md1 = Harness.median3(Multimodal.mediaTopNeighbor(spark, md, Similarity.MaxBucket))
      s""""ts_s":${r2(ts0)},"ts_capped_s":${r2(ts1)},""" +
        s""""media_s":${r2(md0)},"media_capped_s":${r2(md1)}}"""
    }
    if (skew) {
      val day0 = events.agg(min(col("ts"))).collect().head.getTimestamp(0)
      val onePayload = media.limit(1).collect().head.getAs[Array[Byte]]("payload")
      Seq(8192, 32768).foreach { hot =>
        val hotEv = spark.range(hot)
          .select((col("id") + 10000000L).as("user_id"), lit(day0).as("ts"))
        val ev = events.unionByName(hotEv).localCheckpoint(true)
        val hotMd = spark.range(hot)
          .select((col("id") + 10000000L).as("doc_id"), lit(onePayload).as("payload"))
        val md = media.unionByName(hotMd).localCheckpoint(true)
        try println(s"""{"probe":"tsmedia_skew","hot":$hot,""" + timings(ev, md))
        finally { ev.unpersist(); md.unpersist() }
      }
    } else Seq(1, 4, 16, 64).foreach { times =>
      val ev = idCopies(events, Seq("user_id"), times).localCheckpoint(true)
      // perturbed payloads: distinct md5s spread the copies over the sign
      // buckets instead of planting exact duplicates
      val md = Harness.copies(media, Seq("doc_id"), times) { (df, c) =>
        df.withColumn("payload", concat(col("payload"), lit(s"#$c").cast("binary")))
      }.localCheckpoint(true)
      try {
        val users = ev.select("user_id").distinct().count()
        val docs = md.count()
        println(s"""{"probe":"tsmedia","scale":$times,"users":$users,""" +
          s""""docs":$docs,""" + timings(ev, md))
      } finally { ev.unpersist(); md.unpersist() }
    }
  }

  /** The behavior-analytics family: funnel, retention, sessions,
    * transitions, co-occurrence, rolling features, MAD anomalies,
    * histogram quantiles, and RFM — wall at 1×/4×/16× population growth,
    * or (`skew`) under a bot user.
    *
    * Growth is by population — more users over the SAME day span
    * (user_id/event_id-shifted copies) — which is each operator's intended
    * regime: funnel/retention/sessions/transitions shuffle user-keyed
    * (corpus-linear, user-parallel), co-occurrence basket-keyed,
    * rolling/anomaly collapse to the (event_type, hour) grid FIRST (their
    * exchanges don't grow with users at all past the pre-aggregation),
    * and the histogram sketch's exchange is O(bins × tasks) regardless of
    * rows.
    *
    * Skew: one bot user carrying `hot` events inside a single day — the
    * window-partition worst case. The design claims under test:
    * co-occurrence and the histogram CANNOT skew with a hot user's event
    * volume (per-basket state is bounded by the 5-type alphabet; bins by
    * 64), while sessions/transitions concentrate the bot's rows in ONE
    * window partition (single-task sort) — the measured wall bounds what
    * a 100 TB bot row costs before a caller reaches for a bot-filter
    * hygiene pass.
    */
  private def behavior(skew: Boolean)(spark: SparkSession, args: Seq[String]): Unit = {
    val events = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type", "value")

    // one wiring per operator, shared by both entries — the skew subset
    // must measure exactly the code the growth suite measures
    val ops: Seq[(String, DataFrame => DataFrame)] = Seq(
      "funnel" -> (Stats.funnel(_)),
      "retention" -> (Stats.cohortRetention(_)),
      "sessions" -> (Stats.sessionStats(_)),
      "transitions" -> (Stats.transitions(_)),
      "cooccur" -> (Stats.cooccurrence(_)),
      "rolling" -> (TimeSeries.rollingFeatures(_)),
      "anomaly" -> (TimeSeries.hourlyAnomalies(_)),
      "hist" -> (ev => Sketches.histQuantiles(ev)),
      "rfm" -> (Stats.rfm(_)))

    def row(ev: DataFrame, names: Seq[String]): String =
      ops.filter(o => names.contains(o._1))
        .map { case (n, f) => s""""${n}_s":${r2(Harness.median3(f(ev)))}""" }
        .mkString(",")

    if (skew) {
      val day0 = events.agg(min(col("ts"))).collect().head.getTimestamp(0)
      Seq(100000, 1000000, 4000000).foreach { hot =>
        // one bot, `hot` events spread over one day. It cycles FOUR event
        // types — exactly CooccurCap — so its basket stays ADMITTED and
        // the co-occurrence measurement exercises the bounded in-basket
        // pair generation (a 5-type bot is dropped whole by the hub cap,
        // which only measures the collect_set + filter path)
        val botEv = spark.range(hot).select(
          (col("id") + 2000000000L).as("event_id"),
          timestamp_micros(unix_micros(lit(day0)) +
            (col("id") % 86400) * 1000000L).as("ts"),
          lit(99999999L).as("user_id"),
          element_at(
            // sized FROM CooccurCap (synthesizing extra names past the four
            // real types) so a raised cap can never index past the array —
            // the invariant is "exactly CooccurCap distinct types",
            // whatever the cap is
            array((0 until Stats.CooccurCap).map(i =>
              lit(Seq("signup", "view", "click", "purchase")
                .lift(i).getOrElse(s"type$i"))): _*),
            (col("id") % Stats.CooccurCap + 1).cast("int")).as("event_type"),
          (col("id") % 491).cast("double").as("value"))
        val ev = events.unionByName(botEv).localCheckpoint(true)
        try println(s"""{"probe":"behavior_skew","hot":$hot,""" +
          row(ev, Seq("sessions", "transitions", "cooccur", "hist")) + "}")
        finally { ev.unpersist(); () }
      }
    } else Seq(1, 4, 16).foreach { times =>
      val ev = idCopies(events, Seq("event_id", "user_id"), times).localCheckpoint(true)
      try {
        val users = ev.select("user_id").distinct().count()
        val n = ev.count()
        println(s"""{"probe":"behavior","scale":$times,"users":$users,""" +
          s""""n":$n,""" + row(ev, ops.map(_._1)) + "}")
      } finally {
        ev.unpersist()
        // rfm eagerly localCheckpoints its user frame per construction
        // (3 reps per scale) — sweep like Verify/Bench do, so blocks from
        // earlier scales can't pressure the 16× timings
        Harness.release(spark)
      }
    }
  }

  // ---- streaming state laws -----------------------------------------------

  /** The behavior family's STREAMING state: each twin's state-size law
    * under a GROWING user population (every batch advances event time one
    * day and introduces a fresh user cohort — the churn regime that
    * separates "state tracks activity" from "state tracks history").
    *
    * Laws measured (final micro-batch `numRowsTotal`):
    *  - `sessionProfileStreaming` / `cooccurrenceStreaming`: watermark-
    *    evicted — state holds the open horizon only, FLAT as cohorts pass;
    *  - `transitionsStreaming` (NoTimeout): one last-event row per
    *    EVER-SEEN user — grows with the population, the documented reason
    *    the TTL form exists;
    *  - `transitionsStreamingTtl`: event-time eviction — state tracks the
    *    ACTIVE cohort, flat;
    *  - `funnelStreaming`: per-user step vectors, grows with the
    *    population by DESIGN (a funnel must remember every entrant until
    *    conversion — bounding it is a product decision, stated in the
    *    operator doc);
    *  - `funnelStreamingTtl`: the shipped product option — a conversion
    *    window anchored at funnel entry, state = OPEN attempts only,
    *    watermark-evicted at the attempt horizon: flat under cohort churn.
    */
  private def behaviorState(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val usersPerBatch = 500
    val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
    val types = Seq("signup", "view", "click", "purchase")

    def feed(mem: MemoryStream[(Long, Long, Timestamp, String)],
             q: StreamingQuery, batches: Int): Long = {
      (0 until batches).foreach { b =>
        val base = t0 + b.toLong * 86400L * 1000L
        // a fresh cohort per batch: user ids disjoint across batches
        val rows = (0 until usersPerBatch).flatMap { u =>
          val uid = b.toLong * 1000000L + u
          (0 until 4).map(k =>
            (uid * 10 + k, uid, new Timestamp(base + k * 60000L), types(k)))
        }
        mem.addData(rows: _*)
        q.processAllAvailable()
      }
      val state = Option(q.lastProgress)
        .flatMap(p => p.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(-1L)
      q.stop()
      state
    }

    def run(tag: String, mk: DataFrame => DataFrame,
            mode: String = "update"): Unit = {
      for (batches <- Seq(4, 16)) {
        val mem = MemoryStream[(Long, Long, Timestamp, String)]
        val df = mk(mem.toDF()
          .toDF("event_id", "user_id", "ts", "event_type")
          .withColumn("value", lit(1.0)))
        val q = df.writeStream.format("noop").outputMode(mode)
          .trigger(Trigger.ProcessingTime("50 milliseconds"))
          .start()
        val state = feed(mem, q, batches)
        println(s"""{"probe":"behavior_state","op":"$tag","batches":$batches,""" +
          s""""users_seen":${batches * usersPerBatch},"state_rows":$state}""")
      }
    }

    run("sessions", df => Stats.sessionProfileStreaming(df, watermark = "1 hour"),
      mode = "append")
    run("cooccur", df => Stats.cooccurrenceStreaming(df, watermark = "1 hour"),
      mode = "append")
    run("transitions", df => Stats.transitionsStreaming(spark, df))
    run("transitions_ttl", df => Stats.transitionsStreamingTtl(spark, df, "1 day"))
    run("funnel", df => Stats.funnelStreaming(spark, df))
    run("funnel_ttl", df => Stats.funnelStreamingTtl(spark, df, "1 day"))
  }

  /** The stream-stream interval join's STATE. The claim is the watermark
    * bound — the join buffers only rows whose event time is within
    * (watermark + join window) of the stream head, so state tracks the
    * RATE × WINDOW product and stays FLAT as total ingested history grows;
    * without a watermark the same join's state grows linearly with history
    * and never evicts (Spark cannot prove any row unmatchable). Also
    * measured: a hot-user click skew — state grows with the IN-WINDOW row
    * volume (the hot user's extra clicks genuinely are joinable), never
    * with history, and the output pair fan-out is the semantic cost of the
    * skew, not a state leak.
    *
    * Method: MemoryStream batches advance event time one hour per batch
    * (clicks + purchases per user, join window 30 min, watermark 10 min);
    * after each ladder the final micro-batch's
    * `StateOperatorProgress.numRowsTotal` is the state row count.
    */
  private def intervalState(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val usersPerBatch = 200
    val clicksPerUser = 5

    def run(batches: Int, watermark: Option[String], hotClicks: Int)
        : (Long, Long) = {
      val clicks = MemoryStream[(Long, Long, Timestamp)]
      val purchases = MemoryStream[(Long, Long, Timestamp)]
      def df(m: MemoryStream[(Long, Long, Timestamp)]): DataFrame =
        m.toDF().toDF("event_id", "user_id", "ts")
          .withColumn("value", lit(1.0))
      val joined = Enrich.intervalJoin(
        df(clicks), df(purchases), window = "30 minutes",
        watermark = watermark)
      val outName = s"ivp_${batches}_${watermark.isDefined}_$hotClicks"
      val q = joined.writeStream.format("memory").outputMode("append")
        .queryName(outName)
        .trigger(Trigger.ProcessingTime("50 milliseconds"))
        .start()
      val t0 = Timestamp.valueOf("2024-01-01 00:00:00").getTime
      (0 until batches).foreach { b =>
        val base = t0 + b.toLong * 3600L * 1000L
        val cRows = (0 until usersPerBatch).flatMap { u =>
          (0 until clicksPerUser).map { k =>
            (b.toLong * 1000000L + u * 100L + k, u.toLong,
              new Timestamp(base + k * 60000L))
          }
        } ++ (0 until hotClicks).map { k =>
          (900000000L + b.toLong * 1000000L + k, 99999L,
            new Timestamp(base + (k % 25) * 60000L))
        }
        val pRows = (0 until usersPerBatch).map { u =>
          (500000000L + b.toLong * 1000000L + u, u.toLong,
            new Timestamp(base + 20L * 60000L))
        } ++ (if (hotClicks > 0)
          Seq((800000000L + b.toLong * 1000000L, 99999L,
            new Timestamp(base + 20L * 60000L)))
        else Seq.empty)
        clicks.addData(cRows: _*)
        purchases.addData(pRows: _*)
        q.processAllAvailable()
      }
      val state = Option(q.lastProgress)
        .flatMap(p => p.stateOperators.headOption)
        .map(_.numRowsTotal).getOrElse(-1L)
      val out = spark.table(outName).count()
      q.stop()
      (state, out)
    }

    // ladder 1: history grows 4x, per-batch rate constant, watermarked —
    // the state row count must stay FLAT (watermark-bounded eviction)
    for (batches <- Seq(4, 8, 16)) {
      val (state, out) = run(batches, Some("10 minutes"), hotClicks = 0)
      val ingested = batches.toLong * usersPerBatch * (clicksPerUser + 1)
      println(s"""{"probe":"interval_state","batches":$batches,""" +
        s""""ingested":$ingested,"state_rows":$state,"pairs":$out}""")
    }
    // unwatermarked control at the largest ladder: state ~= full history
    val (stateNoWm, outNoWm) = run(16, None, hotClicks = 0)
    println(s"""{"probe":"interval_state_nowm","batches":16,""" +
      s""""ingested":${16L * usersPerBatch * (clicksPerUser + 1)},""" +
      s""""state_rows":$stateNoWm,"pairs":$outNoWm}""")
    // skew: a hot user at 100x the click rate — state grows by the hot
    // rows IN WINDOW (they are genuinely joinable), not with history.
    // The hot=0 baseline for this row is ladder 1's batches=8 line
    // (identical configuration — re-running it here would only duplicate
    // a full streaming run to reprint a known number).
    val (state, out) = run(8, Some("10 minutes"), hotClicks = 500)
    println(s"""{"probe":"interval_state_skew","hot_clicks_per_batch":500,""" +
      s""""batches":8,"state_rows":$state,"pairs":$out}""")
  }

  // ---- split base+delta probes --------------------------------------------

  /** The SPLIT base+delta probes: base corpus grown 1×/4×/16×, delta held
    * CONSTANT, probe query set held CONSTANT. The split formulation's
    * claim is that a live delta costs the probe delta-sized work on top of
    * the base-only plan — the retired union-then-probe formulation
    * re-shuffled the whole base whenever any delta batch was unfolded, so
    * its delta overhead would GROW with the base. Measured:
    * `with_delta − base_only` per scale for the BM25 search, the LSH
    * candidate probe and the Jaccard vocabulary join; flat overhead across
    * the ladder is the claim confirmed.
    */
  private def lsm(spark: SparkSession, args: Seq[String]): Unit = {
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // constant delta: 50 docs with SYNTHESIZED vocabulary (unique tokens,
    // absent from every base copy) — base-text twins would be dropped by
    // the LSH dedup loop as duplicates and leave the delta EMPTY, turning
    // the with-delta measurement into a base-only one
    val deltaDocs = spark.range(50).select(
      (col("id") + 900000000L).as("doc_id"),
      concat_ws(" ", (0 until 8).map(t =>
        concat(lit(s"zz${t}x"), col("id"))): _*).as("text"))
    // constant probe load: the 1× corpus's query carve / a fixed doc slice
    val queries = Retrieval.bm25Queries(docs).localCheckpoint(true)
    val probeDocs = docs.limit(100)
      .select((col("doc_id") + 950000000L).as("doc_id"), col("text"))
      .localCheckpoint(true)
    val tmp = tmpDir("lsm")
    val scales = Seq(1, 4, 16)

    scales.foreach { times =>
      // copies stay below the delta's id block
      val corpus = Harness.copies(docs, Seq("doc_id"), times, ceiling = 900000000L)(
        (df, _) => df).localCheckpoint(true)
      val n = corpus.count()
      // ---- BM25 ----
      val bt = s"lsm_bm25_x$times"
      val bd = s"$tmp/bm25_x$times"
      Retrieval.buildBm25IndexGen(corpus, bt)
      Retrieval.applyBm25Delta(deltaDocs, bd, 0L)
      val bmDeltaRows = spark.read.parquet(s"$bd/postings").count()
      // warmup BOTH shapes once (the with-delta plan has its own codegen),
      // then median-of-3
      noop(Retrieval.searchBm25Index(spark, bt, queries))
      noop(Retrieval.searchBm25IndexWith(spark, bt, bd, queries))
      val tb = Harness.median3(Retrieval.searchBm25Index(spark, bt, queries))
      val tw = Harness.median3(Retrieval.searchBm25IndexWith(spark, bt, bd, queries))
      println(s"""{"probe":"lsm_bm25","scale":$times,"n":$n,""" +
        s""""delta_rows":$bmDeltaRows,"base_s":${r2(tb)},""" +
        s""""with_delta_s":${r2(tw)},"delta_overhead_s":${r2(tw - tb)}}""")
      // ---- LSH ----
      val lt = s"lsm_lsh_x$times"
      val ld = s"$tmp/lsh_x$times"
      Dedup.buildLshIndexGen(corpus, lt)
      Dedup.processLshBatch(deltaDocs, 0L, lt, ld, s"$tmp/surv_x$times")
      // the delta must actually HOLD the survivors' bands — an
      // all-duplicates delta batch would leave it empty and fake a zero
      // overhead (the with-delta plan degenerates to base-only)
      val lshDeltaRows = spark.read.parquet(s"$ld/bands").count()
      require(lshDeltaRows > 0, "LSH delta is empty — measurement vacuous")
      noop(Dedup.dedupAgainstIndex(spark, probeDocs, lt))
      noop(Dedup.dedupAgainstIndexWith(spark, probeDocs, lt, ld))
      val lb = Harness.median3(Dedup.dedupAgainstIndex(spark, probeDocs, lt))
      val lw = Harness.median3(Dedup.dedupAgainstIndexWith(spark, probeDocs, lt, ld))
      println(s"""{"probe":"lsm_lsh","scale":$times,"n":$n,""" +
        s""""delta_rows":$lshDeltaRows,"base_s":${r2(lb)},""" +
        s""""with_delta_s":${r2(lw)},"delta_overhead_s":${r2(lw - lb)}}""")
      corpus.unpersist()
    }

    // ---- Jaccard: grow the DICTIONARY, not just the corpus ----
    // The split vocab LEFT join's claim: a live delta no longer drags the
    // dictionary through an exchange per probe — the union form's
    // with-delta overhead would grow with DISTINCT-TOKEN count. The
    // testdata corpus has a ~31-word vocabulary, so this ladder
    // synthesizes one: doc id i carries tokens t(10i)..t(10i+9) — the
    // dictionary is EXACTLY 10·docs = 20,000×scale distinct tokens over
    // 2,000×scale docs with no cross-doc sharing, so candidate pairs arise
    // only from the probe's deliberate overlap and runtime is the
    // scans/joins, not verification. The probe set (100 docs over the x1
    // token space, present at every scale) and the 50-doc new-token delta
    // are CONSTANT.
    def vocabDocs(nDocs: Int, offset: Long): DataFrame =
      spark.range(nDocs).select(
        (col("id") + offset).as("doc_id"),
        concat_ws(" ", (0 until 10).map(j =>
          concat(lit("t"), col("id") * 10 + j)): _*).as("text"))
    val jacProbe = vocabDocs(100, 970000000L).localCheckpoint(true)
    scales.foreach { times =>
      val jt = s"lsm_jac_x$times"
      val jd = s"$tmp/jac_x$times"
      val corpus = vocabDocs(2000 * times, 0L)
      Dedup.buildJaccardIndexGen(corpus, jt)
      Dedup.appendJaccardDelta(spark, deltaDocs, jt, jd, 0L, 850000L)
      val vocabDeltaRows = spark.read.parquet(s"$jd/vocab").count()
      require(vocabDeltaRows > 0, "jaccard vocab delta empty — vacuous")
      noop(Dedup.jaccardAgainstIndex(spark, jacProbe, jt))
      noop(Dedup.jaccardAgainstIndexWith(spark, jacProbe, jt, jd))
      val jb = Harness.median3(Dedup.jaccardAgainstIndex(spark, jacProbe, jt))
      val jw = Harness.median3(Dedup.jaccardAgainstIndexWith(spark, jacProbe, jt, jd))
      println(s"""{"probe":"lsm_jaccard_vocab","scale":$times,""" +
        s""""vocab":${20000 * times},"delta_vocab_rows":$vocabDeltaRows,""" +
        s""""base_s":${r2(jb)},"with_delta_s":${r2(jw)},""" +
        s""""delta_overhead_s":${r2(jw - jb)}}""")
    }
  }

  // ---- fuzzy matching -----------------------------------------------------
  //
  // The SymSpell fuzzy join grows BOTH universes together — |Q| = 100×s
  // queries, |D| = 10,000×s dictionary terms at s ∈ {1, 2, 4, 8} — and is
  // timed against the brute-force length-banded `levenshtein` verify the
  // DuckDB oracle twin uses. Growing both sides is the regime that
  // separates the two: brute verify work is |Q|·|D| (quadratic in s,
  // exponent ≈ 2), the blocked join's work is neighborhood generation
  // (linear) plus shared-key candidates (the planted matches — linear), so
  // its measured exponent should stay ≈ lin. The synthesized universes are
  // md5-hex 12-char terms (cross-pair distance ≤ 1 collisions essentially
  // never happen), with every query a one-char deletion of a dictionary
  // term — so the TRUE match set is the planted one, identical for both
  // formulations, and the entries assert result-set equality before timing.

  private def fuzzyDict(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      substring(md5(concat(lit("d:"), col("id"))), 1, 12).as("term"))

  private def fuzzyQueries(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("doc_id"),
      substring(md5(concat(lit("d:"), col("id"))), 1, 12).as("term"))
      .select(col("doc_id"), expr(
        """concat(substring(term, 1, CAST(doc_id % 12 AS INT)),
          |       substring(term, CAST(doc_id % 12 AS INT) + 2, 12))"""
          .stripMargin).as("q_term"))

  /** Brute-force twin: length-banded cross join + levenshtein ≤ `edits` —
    * the oracle's formulation, as a Spark job.
    */
  private def fuzzyBrute(q: DataFrame, d: DataFrame, edits: Int): DataFrame =
    q.crossJoin(d.select(col("term").as("dict_term")))
      .filter(abs(length(col("q_term")) - length(col("dict_term"))) <= edits)
      .filter(levenshtein(col("q_term"), col("dict_term")) <= edits)
      .select("doc_id", "q_term", "dict_term")

  private def fuzzy(spark: SparkSession, args: Seq[String]): Unit =
    for (s <- Seq(1, 2, 4, 8)) {
      val d = fuzzyDict(spark, 10000L * s)
      val q = fuzzyQueries(spark, 100L * s)
      // same result set before timing (the blocked join's losslessness
      // at scale, not just on the spec's mini-universe)
      val got = Fuzzy.fuzzyMatch(q, d)
        .select("doc_id", "dict_term").distinct().count()
      val want = fuzzyBrute(q, d, 1)
        .select("doc_id", "dict_term").distinct().count()
      require(got == want, s"blocked=$got brute=$want at s=$s")
      val tBlocked = Harness.median3(Fuzzy.fuzzyMatch(q, d))
      val tBrute = Harness.median3(fuzzyBrute(q, d, 1))
      println(s"""{"probe":"fuzzy","scale":$s,"dict":${10000 * s},""" +
        s""""queries":${100 * s},"matches":$got,""" +
        s""""blocked_s":${r2(tBlocked)},"brute_s":${r2(tBrute)}}""")
    }

  /** The distance-2 ladder: the same grow-both-sides regime with
    * TWO-char-deleted queries, del<=2 (FastSS) keys, and a levenshtein<=2
    * brute twin. Also reports the measured neighborhood inflation (keys
    * per dictionary term, d1 vs d2): the d2 index costs ~len²/2 keys per
    * term — a CONSTANT factor (~6x at len 12), linear in dictionary size,
    * which is the whole scale argument — candidates stay
    * planted-match-sized while brute verify work grows |Q|·|D|.
    */
  private def fuzzyD2(spark: SparkSession, args: Seq[String]): Unit = {
    graft.functions.DeleteNeighborhoodKeys.register(spark)
    def queries2(n: Long): DataFrame =
      fuzzyQueries(spark, n).select(col("doc_id"), expr(
        """concat(substring(q_term, 1, CAST((doc_id div 12) % 11 AS INT)),
          |       substring(q_term, CAST((doc_id div 12) % 11 AS INT) + 2, 11))"""
          .stripMargin).as("q_term"))
    for (s <- Seq(1, 2, 4, 8)) {
      val d = fuzzyDict(spark, 10000L * s)
      val q = queries2(100L * s)
      val keys = d.select(
          sum(size(expr("del_keys(term, 1)"))).as("k1"),
          sum(size(expr("del_keys(term, 2)"))).as("k2"))
        .head()
      val got = Fuzzy.fuzzyMatch2(q, d)
        .select("doc_id", "dict_term").distinct().count()
      val want = fuzzyBrute(q, d, 2)
        .select("doc_id", "dict_term").distinct().count()
      require(got == want, s"blocked=$got brute=$want at s=$s")
      val tBlocked = Harness.median3(Fuzzy.fuzzyMatch2(q, d))
      val tBrute = Harness.median3(fuzzyBrute(q, d, 2))
      println(s"""{"probe":"fuzzy_d2","scale":$s,"dict":${10000 * s},""" +
        s""""queries":${100 * s},"matches":$got,""" +
        s""""keys_d1":${keys.getLong(0)},"keys_d2":${keys.getLong(1)},""" +
        s""""blocked_s":${r2(tBlocked)},"brute_s":${r2(tBrute)}}""")
    }
  }

  /** The split base+delta probe ladder (the `lsm` discipline, fifth
    * family): dictionary base grown 1×/4×/16× as TWIN-PAIRED docs (each
    * shingle lands count 2 — admitted; singleton shingles would leave the
    * index unmatchable), delta CONSTANT (50 twin-paired docs of fresh
    * vocabulary — base twins would change nothing and fake a zero
    * overhead), query load CONSTANT (perturbed x1-range shingles +
    * perturbed delta shingles; the entry asserts the delta-admitted terms
    * actually answer). Claim: with_delta − base_only is delta-sized, flat
    * across base growth — the bucketed keys/cnt bases satisfy their joins
    * from layout.
    */
  private def fuzzyLsm(spark: SparkSession, args: Seq[String]): Unit = {
    val tmp = tmpDir("fuzzy_lsm")
    def pairedDocs(n: Long, off: Long, tag: String): DataFrame =
      spark.range(n).select(
        (col("id") + off).as("doc_id"),
        concat_ws(" ", (0 until 12).map(t =>
          concat(lit(s"$tag${t}x"), col("id") % (n / 2))): _*).as("text"))
    val deltaDocs = pairedDocs(50, 900000000L, "dz")
    // constant probe: one-char-extended shingles of the x1 base range
    // plus of the delta range (the latter answer ONLY via the delta)
    def typo(docs: DataFrame): DataFrame =
      TextAnalysis.shingleStream(docs)
        .groupBy("doc_id").agg(min("shingle").as("term"))
        .select(col("doc_id"), concat(col("term"), lit("q")).as("q_term"))
    val probeQ = typo(pairedDocs(100, 950000000L, "b").drop("text")
        .join(pairedDocs(100, 950000000L, "b"), "doc_id"))
    for (s <- Seq(1, 4, 16)) {
      val name = s"lsm_fuzzy_x$s"
      val dd = s"$tmp/fuzzy_x$s"
      Fuzzy.buildFuzzyIndexGen(pairedDocs(2000L * s, 0L, "b"), name)
      Fuzzy.appendFuzzyBatch(deltaDocs, dd, 0L)
      val q = probeQ.unionByName(typo(deltaDocs)).localCheckpoint(true)
      // the delta must actually answer — an empty delta fakes flatness
      val deltaHits = Fuzzy
        .fuzzyAgainstIndexWith(spark, q, name, Some(dd))
        .filter(col("doc_id") >= 900000000L && col("doc_id") < 950000000L)
        .count()
      require(deltaHits > 0, s"delta answered nothing at s=$s")
      Harness.median3(Fuzzy.fuzzyAgainstIndexWith(spark, q, name)) // warm
      Harness.median3(Fuzzy.fuzzyAgainstIndexWith(spark, q, name, Some(dd)))
      val tb = Harness.median3(Fuzzy.fuzzyAgainstIndexWith(spark, q, name))
      val tw = Harness.median3(Fuzzy.fuzzyAgainstIndexWith(spark, q, name, Some(dd)))
      println(s"""{"probe":"lsm_fuzzy","scale":$s,"dict_docs":${2000 * s},""" +
        s""""delta_hits":$deltaHits,"base_s":${r2(tb)},""" +
        s""""with_delta_s":${r2(tw)},"delta_overhead_s":${r2(tw - tb)}}""")
    }
  }

  /** Prints `tag` and the wall seconds of `body`. */
  private def phase[A](tag: String)(body: => A): A = {
    val t0 = System.nanoTime()
    val r = body
    println(f"$tag%-10s ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** Wall per phase of the ext_fuzzy_incremental lifecycle (build /
    * append / probe), mirroring the SparkEntry wiring exactly.
    */
  private def fuzzyPhase(spark: SparkSession, args: Seq[String]): Unit =
    (1 to 3).foreach { rep =>
      println(s"--- rep $rep ---")
      val all = Tables.documents(spark, sf)
      val dir = tmpDir(s"fuzzy_phase_$rep")
      phase("build") { Fuzzy.buildFuzzyIndexGen(
        all.filter(col("doc_id") % 3 =!= 0), "graft_fuzzy_idx_p") }
      phase("append") { Fuzzy.appendFuzzyBatch(
        all.filter(col("doc_id") % 3 === 0), dir, 1L) }
      phase("probe") { Fuzzy.fuzzyAgainstIndexWith(
        spark, Fuzzy.typoQueries(all), "graft_fuzzy_idx_p",
        Some(dir)).orderBy("doc_id", "dict_term").count() }
    }

  /** Phase attribution for the persisted d2 probe: build once, then time
    * the probe with and without its delta — live, after a compaction fold
    * and after the fold's GC cycle.
    */
  private def fuzzyPhaseInc2(spark: SparkSession, args: Seq[String]): Unit = {
    val all = Tables.documents(spark, sf)
    val name = "graft_fuzzy2_phase"
    val dir = tmpDir("fuzzy2_phase")
    phase("build") { Fuzzy.buildFuzzyIndexGen(all.filter(col("doc_id") % 6 === 0),
      name, buckets = 32, maxEdits = 2) }
    phase("append") { Fuzzy.appendFuzzyBatch(all.filter(col("doc_id") % 6 === 3),
      dir, 1L, maxEdits = 2) }
    // three reps of the with-delta and base-only probes; returns the
    // with-delta answer count, which every cycle must reproduce
    def reps(label: String): Long = (1 to 3).map { rep =>
      println(s"--- inc2 $label rep $rep ---")
      val q = phase("typoq2") { Fuzzy.typoQueries2(all).localCheckpoint(true) }
      val n = phase("probe") { Fuzzy.fuzzyAgainstIndexWith(spark, q,
        name, Some(dir), maxEdits = 2).count() }
      phase("probe_nodelta") { Fuzzy.fuzzyAgainstIndexWith(spark, q,
        name, None, maxEdits = 2).count() }
      Harness.release(spark)
      n
    }.last
    val live = reps("live")
    // compaction cadence: fold the (deliberately half-corpus-sized) delta,
    // then re-measure — the with-delta probe must RETURN TO BASE-ONLY COST
    // (every delta partition now sits at or below the folded watermark and
    // reads empty) with the answer set unchanged, and the radius sibling
    // must survive the fold (the probe's maxEdits=2 require reads the NEW
    // generation's stamp)
    phase("compact") { Fuzzy.compactFuzzyIfNeeded(spark, name, dir, maxUnfolded = 0) }
    val folded = reps("post-compact")
    assert(folded == live, s"fold changed the d2 answer set: $folded vs $live")
    // the cycle after: the folded partitions GC (they were retained one
    // cycle for in-flight readers) — the delta listing is now empty, the
    // probe plans NO delta branches, and with-delta cost = base-only
    phase("compact_gc") { Fuzzy.compactFuzzyIndexGen(spark, name, dir) }
    val gone = reps("post-gc")
    assert(gone == live, s"GC cycle changed the d2 answer set: $gone vs $live")
  }

  /** Phase attribution for the one-shot distance-2 match. */
  private def fuzzyPhaseMatch2(spark: SparkSession, args: Seq[String]): Unit = {
    val all = Tables.documents(spark, sf)
    (1 to 3).foreach { rep =>
      println(s"--- match2 rep $rep ---")
      val q = phase("typoq2") { Fuzzy.typoQueries2(all).localCheckpoint(true) }
      val dict = phase("dict") {
        Fuzzy.dictionary(all.filter(col("doc_id") % 3 === 0)).localCheckpoint(true) }
      val dk = phase("keys2") { Fuzzy.dictionaryKeys2(dict).localCheckpoint(true) }
      println(s"  dk rows: ${dk.count()}")
      phase("joinverify") { Fuzzy.fuzzyMatch2Against(q, dk).count() }
      Harness.release(spark)
    }
  }

  // ---- streaming ingest gates ---------------------------------------------

  /** Throughput of the streaming ingest gates: per-batch wall and
    * batches/s for the blocklist gate, the substring-decontamination gate
    * (fixed benchmark index), the substring-dedup maintenance body
    * (growing index + live delta, across a threshold fold), and the
    * composed crawl-ingest body.
    *
    * The corpus splits into `Batches` equal micro-batches by doc_id mod;
    * each loop drives the gate's factored batch body directly (the same
    * code path foreachBatch invokes), so the numbers price the gate, not
    * MemoryStream plumbing.
    */
  private def gates(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val Batches = 6
    val dir = tmpDir("gates")
    val docs = Tables.documents(spark, sf)
    // blocklist stage needs URLs; the constructions are the oracle ones
    val crawl = Curation.withCrawlCorpus(docs)
      .filter(col("doc_id") % 97 =!= 0)
    val blocked = Seq("ads.example.net", "site7.example.org").toDF("domain")
    def batch(i: Int) = crawl.filter(col("doc_id") % Batches === i)
    val perBatch = batch(0).count()

    def loop(tag: String)(body: (DataFrame, Long) => Unit): Unit = {
      val walls = (0 until Batches).map { i =>
        val t0 = System.nanoTime()
        body(batch(i), i.toLong)
        (System.nanoTime() - t0) / 1e9
      }
      val w = walls.map(x => f"$x%.2f").mkString(" ")
      val rate = Batches / walls.sum
      println(f"$tag%-14s docs/batch=$perBatch walls=[$w] s  " +
        f"batches/s=$rate%.2f  docs/s=${perBatch * rate}%.0f")
    }
    val benchDocs = docs.filter(col("doc_id") % 97 === 0)

    // 1. blocklist gate: stateless verdict split
    loop("blocklist") { (b, i) =>
      Curation.processBlocklistGate(b, i, blocked,
        s"$dir/bl_clean", s"$dir/bl_flagged")
    }

    // 2. decontamination gate vs the FIXED benchmark index
    Dedup.buildSubstrBenchIndexGen(benchDocs, "gp_bench_idx")
    loop("decont") { (b, i) =>
      Dedup.processDecontGate(b, i, "gp_bench_idx",
        s"$dir/dc_clean", s"$dir/dc_quar", Dedup.SpanN, Dedup.SubstrPosCap)
    }

    // 3. substr-dedup maintenance body: growing index + live delta, with
    // the threshold fold at cadence 3 (maxUnfolded=2) — batch walls show
    // the live-delta cost growing then returning to base-only after folds
    Dedup.buildSubstrBenchIndexGen(benchDocs, "gp_dedup_idx")
    loop("substr_dedup") { (b, i) =>
      Dedup.processSubstrBatch(b, i, "gp_dedup_idx",
        s"$dir/sd_delta", s"$dir/sd_surv", Dedup.SpanN, Dedup.SubstrPosCap)
      Dedup.compactSubstrIfNeeded(spark, "gp_dedup_idx",
        s"$dir/sd_delta", maxUnfolded = 2)
      ()
    }

    // 4. the composed crawl-ingest body (all three gates chained)
    Dedup.buildSubstrBenchIndexGen(benchDocs, "gp_crawl_idx")
    loop("crawl_ingest") { (b, i) =>
      Curation.processCrawlIngest(b, i, blocked, "gp_bench_idx",
        "gp_crawl_idx", s"$dir/ci_delta", s"$dir/ci_flagged",
        s"$dir/ci_quar", s"$dir/ci_surv", Dedup.SpanN, Dedup.SubstrPosCap)
    }
  }

  /** The BATCH crawl pipeline's action-count invariance: the
    * self-contained form (span scan included — no cached artifact) over
    * the sf0.001/sf0.01/sf0.1 directories beside `SPARK_GRAFT_SF_DIR`,
    * median-of-3 wall. Walls should move far less than the 10× data steps
    * — the four-actions-regardless-of-size design.
    */
  private def gatePipeline(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val parent = new java.io.File(sf).getAbsoluteFile.getParentFile
    Seq("sf0.001", "sf0.01", "sf0.1").map(new java.io.File(parent, _))
      .filter(_.isDirectory).foreach { dir =>
        val raw = Tables.documents(spark, dir.toString)
        val c = Curation.withCrawlCorpus(raw)
        val bench = Dedup.spanTable(raw.filter(col("doc_id") % 97 === 0))
        val nDocs = c.count()
        val walls = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          Curation.crawlPipeline(c,
            Seq("ads.example.net", "site7.example.org").toDF("domain"),
            bench).count()
          (System.nanoTime() - t0) / 1e9
        }.sorted
        println(f"pipeline ${dir.getName}%-8s docs=$nDocs%-7d " +
          f"median=${walls(1)}%.2f s  walls=[${walls.map(x => f"$x%.2f").mkString(" ")}]")
      }
  }

  // ---- text and curation operators ----------------------------------------

  /** The text/curation operators: wall-clock for the chunker, the BPE
    * apply step, the mixing schedule, the quality classifier, winnowing
    * and quota sampling at 1×, 10× and 100× corpus size. All claim linear
    * shapes (narrow; one doc-keyed window shuffle; one source-keyed
    * window + broadcast dim; map-only kernels) — the entry measures the
    * actual exponent. Copies carry a per-copy token prefix so corpus-level
    * statistics shift rather than replicate; the 100× leg is
    * localCheckpointed before timing so union construction is not
    * measured.
    */
  private def textOps(spark: SparkSession, args: Seq[String]): Unit = {
    val base = Tables.documents(spark, sf).select("doc_id", "text", "lang", "source")
    noop(Curation.chunkDocuments(base)) // warmup
    Seq(1, 10, 100).foreach { times =>
      val docs = Harness.copies(base, Seq("doc_id"), times) { (df, c) =>
        df.withColumn("text", concat(lit(s"c$c "), col("text")))
      }.localCheckpoint(true)
      val n = docs.count()
      val chunk = Harness.median3(Curation.chunkDocuments(docs))
      val bpe = Harness.median3(TextAnalysis.bpeApplyMerge(docs, "the", "data"))
      val mix = Harness.median3(Curation.mixSchedule(docs))
      val cls = Harness.median3(TextAnalysis.qualityClassifier(docs))
      val win = Harness.median3(TextAnalysis.winnowing(docs))
      val quota = Harness.median3(Curation.quotaSample(docs))
      println(f"""{"probe":"textops","scale":$times,"n_docs":$n,""" +
        f""""chunk_s":$chunk%.2f,"bpe_apply_s":$bpe%.2f,"mix_s":$mix%.2f,""" +
        f""""classifier_s":$cls%.2f,"winnow_s":$win%.2f,"quota_s":$quota%.2f}""")
      docs.unpersist(blocking = true)
    }
  }

  /** Cross-doc substring pairs (Dedup.substrDups), their suppression APPLY
    * step and the substring decontamination at 1×/4×/16×. A linear ladder
    * needs copies whose runs stay WITHIN a copy — a plain prefix-scaled
    * corpus would share almost every 8-gram across copies of the same doc
    * and grow the pair output quadratically in copies, measuring the
    * corpus construction rather than the operator. Interleaving a
    * copy-marker token between every token keeps every 8-gram copy-local
    * while the (d, d+1M) perturbed-pair structure replicates per copy:
    * output rows and work both scale linearly.
    */
  private def textSubstr(spark: SparkSession, args: Seq[String]): Unit = {
    val base = Tables.documents(spark, sf).select("doc_id", "text")
    val stride = Harness.idStride(base, "doc_id")
    // the span table is persisted ONCE per rung and both consumers read the
    // *From variants — the production shape (SparkEntry shares one
    // TrainedStore artifact across the three span queries); per-call
    // spanTable checkpoints would re-run the identical tokenize scan 8× per
    // rung and measure that instead of the operators
    Seq(1, 4, 16).foreach { times =>
      // copies stay below withPerturbedCopies' +1e6 variant offset
      val docs = Harness.copies(base, Seq("doc_id"), times, ceiling = 1000000L) {
        (df, c) => Dedup.withPerturbedCopies(
          df.withColumn("text", regexp_replace(col("text"), " ", s" m$c ")))
      }.localCheckpoint(true)
      val spans = Dedup.spanTable(docs).localCheckpoint(true)
      val rows = Dedup.substrDupsFrom(spans).count()
      val t = Harness.median3(Dedup.substrDupsFrom(spans))
      // the suppression APPLY step over the same corpus — the run evidence
      // above consumed as cuts; n_cut proves the cut volume replicates per
      // copy (linear) while the time tracks the same anchor-join + one
      // corpus-sized application join
      val cut = Dedup.substrApplyFrom(docs, spans)
        .agg(sum("n_cut_tokens")).head().getLong(0)
      val ta = Harness.median3(Dedup.substrApplyFrom(docs, spans))
      // decontamination leg: benchmark = copy-0 originals on the % 97
      // carve (CONSTANT as the train side grows — the production shape: a
      // fixed eval suite vs a growing crawl); contaminated set is the
      // constant copy-0 perturbed twins, so time isolates the train-side
      // probe cost
      val isBench = (col("doc_id") % 97 === 0) && (col("doc_id") < stride)
      def decont() = Dedup.substrDecontaminateFrom(
        spans.filter(!isBench), spans.filter(isBench))
      val nFlag = decont().count()
      val td = Harness.median3(decont())
      println(f"""{"probe":"substr_dups","scale":$times,""" +
        f""""pair_rows":$rows,"substr_s":$t%.2f,""" +
        f""""apply_cut_tokens":$cut,"apply_s":$ta%.2f,""" +
        f""""decont_flagged":$nFlag,"decont_s":$td%.2f}""")
      docs.unpersist(blocking = true)
      spans.unpersist(blocking = true)
      Harness.release(spark)
    }
  }

  /** Within-doc positional skew. 16 docs (exactly the hot-anchor admission
    * limit, so the DOC cap cannot mask the effect) each repeat ONE 8-gram
    * `reps` times behind doc-unique fillers: every pair of them shares
    * that anchor at reps × reps position combinations, so the uncapped
    * candidate set is C(16,2)·reps² rows while the keep-first-8 position
    * cap bounds it at C(16,2)·64 — the fan-out the cap exists to cut,
    * measured head to head. The metric is sum(n_runs) — the total
    * maximal-run count, which IS the surviving candidate volume (pair-row
    * counts are C(16,2) under both caps and cannot show the fan-out).
    */
  private def textSkew(spark: SparkSession, args: Seq[String]): Unit = {
    val g8 = (1 to 8).map(i => s"g$i").mkString(" ")
    def skewDocs(reps: Int): DataFrame =
      spark.range(16).select(
        (col("id") + 900000000L).as("doc_id"),
        expr(s"concat_ws(' ', transform(sequence(1, $reps), " +
          s"j -> concat('$g8 u', id, '_', j)))").as("text"))
    def totalRuns(df: DataFrame): Long = df.agg(sum("n_runs")).head().getLong(0)
    Seq(100, 300).foreach { reps =>
      val docs = skewDocs(reps).localCheckpoint(true)
      val capRuns = totalRuns(Dedup.substrDups(docs))
      val capT = Harness.median3(Dedup.substrDups(docs))
      val unRuns = totalRuns(Dedup.substrDups(docs, maxDocPositions = Int.MaxValue))
      val unT = Harness.median3(Dedup.substrDups(docs, maxDocPositions = Int.MaxValue))
      println(f"""{"probe":"substr_skew","reps":$reps,""" +
        f""""capped_runs":$capRuns,"capped_s":$capT%.2f,""" +
        f""""uncapped_runs":$unRuns,"uncapped_s":$unT%.2f}""")
      docs.unpersist(blocking = true)
      Harness.release(spark)
    }
  }

  // ---- 10× scaling rung ---------------------------------------------------

  /** Scaling rung for the exec-rich rows: the sf0.1 suite is
    * launch-floor-bound, so wall totals there cannot measure parallel
    * efficiency. This entry times ext_rfm, ext_retrieval_eval, the d2
    * fuzzy index probe and ext_crawl_pipeline (args pick a subset of
    * `rfm retrieval_eval fuzzy_inc2 crawl_pipeline`) on 1× and a
    * synthetic 10× corpus at the session's core count. Run it at two core
    * counts; the wall ratio at 10× is the scaling evidence SCALE.md
    * records. Artifact-backed operators (fuzzy index, crawl anchors/spans)
    * build their artifacts UNTIMED first, mirroring the bench's median
    * rep, which reads per-corpus artifacts built on rep 1.
    */
  private def rung(spark: SparkSession, args: Seq[String]): Unit = {
    import spark.implicits._
    val sections = Seq("rfm", "retrieval_eval", "fuzzy_inc2", "crawl_pipeline")
    val unknown = args.filterNot(sections.contains)
    require(unknown.isEmpty, s"unknown rung sections ${unknown.mkString(", ")}; " +
      s"known: ${sections.mkString(", ")}")
    val which = if (args.nonEmpty) args.toSet else sections.toSet
    val tiers = Seq(1, 10)

    def timed(tag: String, scale: Int)(mk: => DataFrame): Unit = {
      noop(mk) // warm
      // no persistent-RDD sweep between reps: the tier's scaled input is a
      // localCheckpoint whose blocks must survive all three reps
      val wall = Harness.median3 { spark.catalog.clearCache(); mk }
      println(f"""{"probe":"$tag","scale":$scale,"cpus":${Harness.cpus},"wall_med":$wall%.2f}""")
    }

    // 10x documents: copy i's ids stay below 1e6 so the +1e6
    // perturbed-variant convention still has headroom, and copy i rotates
    // vowels so each copy contributes fresh vocabulary / span families (a
    // constant-scaled copy would fake uniformity)
    val rot = Seq("aeiou", "eioua", "iouae", "ouaei", "uaeio",
      "bcdfg", "cdfgb", "dfgbc", "fgbcd", "gbcdf")
    def docsScaled(times: Int): DataFrame =
      Harness.copies(Tables.documents(spark, sf)
          .repartition(spark.sparkContext.defaultParallelism),
        Seq("doc_id"), times, ceiling = 1000000L) { (df, i) =>
        df.withColumn("text", translate(col("text"), "aeiou", rot(i % rot.length)))
      }
    // 10x events: copy i shifts user_id and event_id; ts unchanged
    def eventsScaled(times: Int): DataFrame =
      idCopies(Tables.events(spark, sf)
        .repartition(spark.sparkContext.defaultParallelism),
        Seq("event_id", "user_id"), times)

    if (which("rfm")) tiers.foreach { t =>
      val ev = eventsScaled(t).localCheckpoint(true)
      timed("rfm", t)(Stats.rfm(ev))
    }
    if (which("retrieval_eval")) tiers.foreach { t =>
      val d = docsScaled(t).localCheckpoint(true)
      timed("retrieval_eval", t)(Retrieval.retrievalEval(d))
    }
    if (which("fuzzy_inc2")) tiers.foreach { t =>
      val d = docsScaled(t).localCheckpoint(true)
      val name = s"graft_fuzzy2_rung_$t"
      val dir = tmpDir(name)
      // untimed build + one live delta batch — mirrors the bench wiring,
      // whose median rep probes an already-built index
      Fuzzy.buildFuzzyIndexGen(d.filter(col("doc_id") % 6 === 0), name,
        buckets = 32, maxEdits = 2)
      Fuzzy.appendFuzzyBatch(d.filter(col("doc_id") % 6 === 3), dir, 1L,
        maxEdits = 2)
      timed("fuzzy_inc2_probe", t)(
        Fuzzy.fuzzyAgainstIndexWith(spark, Fuzzy.typoQueries2(d),
          name, Some(dir), maxEdits = 2))
    }
    if (which("crawl_pipeline")) tiers.foreach { t =>
      val d = docsScaled(t).localCheckpoint(true)
      val crawl = Curation.withCrawlCorpus(d).localCheckpoint(true)
      // untimed artifacts, as the bench's cached per-corpus frames
      val anch = Dedup.spanTable(crawl, Dedup.SpanN)
        .select(col("doc_id"), col("h")).distinct().localCheckpoint(true)
      val spans = Dedup.spanTable(Dedup.withPerturbedCopies(d))
        .localCheckpoint(true)
      val block = Seq("ads.example.net", "site7.example.org",
        "never.example.io").toDF("domain")
      timed("crawl_pipeline", t)(Curation.crawlPipelineFrom(crawl, block,
        spans.filter((col("doc_id") % 97 === 0) && (col("doc_id") < 1000000L)),
        anch))
    }
  }
}
