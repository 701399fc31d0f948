package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.{Caches, GraftSession, Runner, SparkEntry, Tables}
import graft.operators.{Affinity, AnnIndex, Reach, TextAnalysis, VectorSearch}

/** One benchmark run in one fresh JVM: set up, run the workload's timed
  * section, measure, then dump what the correctness gate needs.
  *
  * Usage: graft.perfbench.Main --workload <name> --data <dir> --work <dir>
  *          --seconds <n> --trace <0|1>
  *
  * Writes `<work>/result.json` (raw timings, per-operation latencies,
  * serve response samples, and with tracing the per-layer counts) and,
  * with tracing, `<work>/spans.jsonl`. The caller turns these into the
  * reported metrics and runs the DuckDB oracles on the dumps.
  */
object Main {

  /** The household and QA keys of the nightly job, plus a rank-window
    * report. */
  val HhKeys = Seq("q_reach_by_type", "q_frequency", "q_pairwise_pairs",
    "q_reach_week", "q_projection_ratio", "q_before_after", "q_qa_daily",
    "q_qa_flags", "q_qa_multigroup", "q_gini")
  /** Text curation and search: the partition-floor operators and the
    * search evals. */
  val CurationKeys = Seq("q_quality_filter", "q_simhash_pairs", "q_novelty",
    "q_tfidf", "q_search_bm25", "q_search_eval", "q_search_ndcg")
  /** Batch workloads: keys, and whether the pass writes through the
    * Runner (otherwise results are collected to the driver). */
  final case class Batch(keys: Seq[String], writes: Boolean)
  val Batches = Map(
    "hh_batch" -> Batch(HhKeys, writes = true),
    "curation" -> Batch(CurationKeys, writes = false))
  val Workloads = Batches.keySet + "serve"

  /** Serve: client threads, ANN k, search k, sampled responses. */
  val Clients = 2
  val AnnK = 3
  val SearchK = 20
  val SampleEvery = 7
  val MaxSamples = 24

  final case class Op(name: String, kind: String, ms: Double, ok: Boolean,
                      err: String)

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = o("workload")
    require(Workloads(workload), s"unknown workload $workload")
    val data = o("data")
    val work = o("work")
    val seconds = o("seconds").toInt
    Trace.on = o("trace") == "1"
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val out = mutable.LinkedHashMap[String, Any]("workload" -> workload,
      "seconds" -> seconds, "trace" -> Trace.on,
      "cpus" -> Runtime.getRuntime.availableProcessors(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory() / 1048576.0)
    val counters = new Counters

    // ---- set-up, timed from JVM start (cold) ----
    val spark = Trace.span("setup") { setup(workload, data, counters) }
    out("setup_s") = (System.currentTimeMillis() - jvmStart) / 1000.0
    val sessionInit = Trace.spans.find(_.name == "session.init")
      .map(_.dur / 1e9).getOrElse(Double.NaN)

    // ---- timed section ----
    val cg0 = codegen()
    val t0 = System.nanoTime()
    val (ops, samples) = Trace.span("pass") {
      if (workload == "serve")
        serveLoop(spark, Requests.load(s"$data/requests.tsv"),
          System.nanoTime() + seconds * 1000000000L)
      else (batchPass(spark, data, work, Batches(workload)), Nil)
    }
    val passS = (System.nanoTime() - t0) / 1e9
    val cg1 = codegen()
    val caches = cacheState(spark)
    out ++= Seq("pass_s" -> passS, "retained_heap_mb" -> retainedHeapMb(),
      "ops" -> ops.map(op => Map("name" -> op.name, "kind" -> op.kind,
        "ms" -> op.ms, "ok" -> op.ok, "err" -> op.err)),
      "samples" -> samples)
    val jvm = jvmState()

    // ---- traced-only layer measurements, outside the timed section ----
    if (Trace.on) {
      out("kernels") = Trace.span("kernels") { Kernels.measure(spark, data) }
    }

    // ---- untimed dumps for the correctness gate ----
    val oracleKeys = workload match {
      case "serve" => Seq("q_ann_ivf", "q_search", "q_reach_by_type")
      case w => Batches(w).keys
    }
    writeText(s"$work/oracle_sql.json", Json.write(
      oracleKeys.map(k => k -> SparkEntry.oracleSql(k)).toMap))
    results.foreach { case (k, (rows, schema)) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$work/dump/$k")
    }

    // ---- traced: drain the listener bus and summarize layers ----
    if (Trace.on) {
      BusDrain(spark.sparkContext)
      val spans = Trace.spans
      val self = Trace.selfTimes(spans)
      val layers = Layers.summarize(spans, self, counters.perSpan,
        ops, passS, jvm, cg1 - cg0, caches, sessionInit,
        if (Batches.get(workload).exists(_.writes)) dirStats(s"$work/out") else (0L, 0L))
      out("layers") = layers
      val w = new PrintWriter(s"$work/spans.jsonl")
      try Trace.toJsonLines(spans, self).foreach(w.println) finally w.close()
    }

    writeText(s"$work/result.json", Json.write(out))
    spark.stop()
  }

  // ------------------------------------------------------------------ setup

  private var serve: ServeState = _

  final class ServeState(val emb: DataFrame, val docs: DataFrame,
                         val media: DataFrame)

  /** Session build, extension registration and the first scan (of the
    * fact table: `events` or `documents`); for `serve` the scan and
    * caching of its three inputs, the index publish and the warm-up
    * requests. */
  def setup(workload: String, data: String, counters: Counters): SparkSession = {
    val spark = Trace.span("session.init") { GraftSession.local() }
    Trace.context = Some(spark.sparkContext)
    if (Trace.on) {
      spark.sparkContext.addSparkListener(counters)
    }
    if (workload == "serve") {
      def held(name: String)(df: => DataFrame): (DataFrame, Long) =
        Trace.span(s"tables.$name") {
          val p = df.persist()
          (p, p.count())
        }
      val (emb, ne) = held("embeddings")(Tables.embeddings(spark, data))
      val (docs, _) = held("documents")(Tables.documents(spark, data))
      val (media, _) = held("media")(Tables.media(spark, data))
      serve = new ServeState(emb, docs, media)
      Trace.span("index.publish") {
        val seeds = emb.where(col("vec_id") % VectorSearch.centroidStrideFor(ne) === 0)
        val centroids = VectorSearch.trainCentroids(emb, seeds, 1)
          .select(col("centroid_id").as("vec_id"), col("embedding"))
        AnnIndex.publish(emb, centroids, seeds, 64)
      }
      Trace.span("warmup") {
        serveLoop(spark, Requests.load(s"$data/warmup.tsv"), Long.MaxValue)
      }
    } else if (workload == "hh_batch")
      Trace.span("tables.events") { Tables.events(spark, data).count() }
    else
      Trace.span("tables.documents") { Tables.documents(spark, data).count() }
    spark
  }

  // ------------------------------------------------------------ batch pass

  /** Results the read-only pass collected, dumped for the gate after it. */
  val results = mutable.LinkedHashMap[String, (Array[Row], StructType)]()

  def batchPass(spark: SparkSession, data: String, work: String, b: Batch): Seq[Op] = {
    val order = Runner.resolveOrder(b.keys, Runner.defaultDependencies)
    val ops = order.map { k =>
      timed(k, "query") {
        Trace.span(s"query.$k") {
          if (b.writes)
            Trace.span("runner.runOne") {
              Runner.runOne(spark, data, s"$work/out", k, force = true)
            }
          else {
            val df = Trace.span("entry.build") { SparkEntry.queries(k)(spark, data) }
            val rows = Trace.span("exec.collect") { df.collect() }
            results(k) = (rows, df.schema)
          }
        }
      }
    }
    // the run-scoped shared artifacts end with the pass, as in Runner.runAll
    Trace.span("release") {
      Caches.clear()
      Affinity.clearCache()
      if (!b.writes) {
        spark.catalog.clearCache()
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      }
    }
    ops
  }

  private def timed(name: String, kind: String)(body: => Unit): Op = {
    val t0 = System.nanoTime()
    try {
      body
      Op(name, kind, (System.nanoTime() - t0) / 1e6, ok = true, null)
    } catch {
      case NonFatal(e) =>
        Op(name, kind, (System.nanoTime() - t0) / 1e6, ok = false, e.toString)
    }
  }

  // ------------------------------------------------------------ serve loop

  /** Closed loop: [[Clients]] threads take the next request of `reqs` as
    * soon as their previous one completes, until `deadline` (a
    * `System.nanoTime`) or the end of `reqs`. Every [[SampleEvery]]-th
    * response is kept for the correctness gate. */
  def serveLoop(spark: SparkSession, reqs: IndexedSeq[Requests.Req], deadline: Long)
      : (Seq[Op], Seq[Map[String, Any]]) = {
    val next = new AtomicInteger(0)
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Op)]()
    val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Map[String, Any])]()
    val parent = Trace.current
    val threads = (1 to Clients).map { c =>
      new Thread(() => {
        var i = next.getAndIncrement()
        while (System.nanoTime() < deadline && i < reqs.size) {
          val r = reqs(i)
          var resp: Array[Row] = null
          val op = timed(s"req.${r.kind}", r.kind) {
            resp = Trace.span(s"req.${r.kind}", req = i, parent = parent) {
              request(spark, r)
            }
          }
          ops.add(i -> op)
          if (op.ok && i % SampleEvery == 0 && samples.size < MaxSamples)
            samples.add(i -> Map("kind" -> r.kind, "args" -> r.args,
              "rows" -> resp.toSeq.map(_.toSeq)))
          i = next.getAndIncrement()
        }
      }, s"perfbench-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (ops.asScala.toSeq.sortBy(_._1).map(_._2),
      samples.asScala.toSeq.sortBy(_._1).map(_._2))
  }

  /** One serve request through the engine's public operators. */
  def request(spark: SparkSession, r: Requests.Req): Array[Row] = r.kind match {
    case "ann" =>
      val df = Trace.span("op.ann") {
        AnnIndex.servedIvfTopK(spark, serve.emb, col("vec_id") === r.args.head.toLong, AnnK)
      }
      Trace.span("collect") { df.collect() }
    case "search" =>
      val df = Trace.span("op.search") {
        TextAnalysis.searchTopK(serve.docs, r.args, SearchK)
      }
      // searchTopK holds its hit frame for the caller to release
      try Trace.span("collect") { df.collect() } finally Caches.clear()
    case "reach" =>
      val Seq(etype, from, to) = r.args
      val df = Trace.span("op.reach") {
        Reach.reachCount(serve.media.where(col("etype") === etype &&
          col("week").between(to_date(lit(from)), to_date(lit(to)))),
          "household_id", Some("etype"), Some("projfact"))
      }
      Trace.span("collect") { df.collect() }
  }

  // ---------------------------------------------------------- measurements

  /** Heap in use after full collections, repeated until it settles:
    * Spark's context cleaner frees broadcast and shuffle state only
    * after a collection has dropped the driver-side references. */
  def retainedHeapMb(): Double = {
    def used() = {
      System.gc()
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }
    var prev = used()
    var cur = prev
    var i = 0
    do {
      Thread.sleep(100)
      prev = cur
      cur = used()
      i += 1
    } while (i < 10 && math.abs(cur - prev) > 0.5)
    cur
  }

  def jvmState(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    val code = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))
      .map(_.getUsage.getUsed).sum
    Map("jit_s" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0,
      "gc_s" -> gc / 1000.0, "code_cache_mb" -> code / 1048576.0)
  }

  /** (generated classes, summed compile ms) so far. */
  final case class Codegen(classes: Long, ms: Double) {
    def -(o: Codegen): Codegen = Codegen(classes - o.classes, ms - o.ms)
  }
  def codegen(): Codegen = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    Codegen(h.getCount, h.getSnapshot.getValues.map(_.toDouble).sum)
  }

  def cacheState(spark: SparkSession): Map[String, Any] = {
    val sc = spark.sparkContext
    Map("frames_held" -> Caches.tracked.size.toLong,
      "persisted_rdds" -> sc.getPersistentRDDs.size.toLong,
      "mem_bytes" -> sc.getRDDStorageInfo.map(_.memSize).sum)
  }

  /** (bytes, files) of the data files under `dir`. */
  def dirStats(dir: String): (Long, Long) = {
    val root = new File(dir)
    if (!root.exists) (0L, 0L)
    else {
      val files = Files.walk(root.toPath).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.startsWith("part-"))
        .toSeq
      (files.map(Files.size).sum, files.size.toLong)
    }
  }

  def writeText(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes("UTF-8"))
}

/** The seeded serve request stream: one request per line,
  * `kind<TAB>arg<TAB>…`. */
object Requests {
  final case class Req(kind: String, args: Seq[String])

  def load(path: String): IndexedSeq[Req] =
    scala.io.Source.fromFile(path).getLines().filter(_.nonEmpty).map { l =>
      val f = l.split("\t").toSeq
      f.head match {
        case "search" => Req("search", f(1).split(",").toSeq)
        case k => Req(k, f.tail)
      }
    }.toIndexedSeq
}
