package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Tables

/** The traced run's per-layer metrics. Every name is reported on every
  * workload; a layer the workload does not exercise reads 0. Counts
  * cover the timed section only (spans under `pass`). */
object Layers {

  def summarize(spans: Seq[Trace.Span], self: Map[Int, Long],
                perSpan: Map[Int, Counters.Acc], ops: Seq[Main.Op], passS: Double,
                jvm: Map[String, Double], cg: Main.Codegen,
                caches: Map[String, Any], sessionInit: Double,
                write: (Long, Long)): Map[String, Double] = {
    val passIds = Trace.rootOf(spans, _ == "pass")
    val inPass = spans.filter(s => passIds.get(s.id).exists(_ != 0)).map(_.id).toSet
    val total = new Counters.Acc
    perSpan.foreach { case (id, a) => if (inPass(id)) total.add(a) }

    val queryRoot = Trace.rootOf(spans, _.startsWith("query."))
    val byName = spans.map(s => s.id -> s.name).toMap
    def perQuery(key: String): (Double, Double) = {
      val ids = spans.filter(_.name == s"query.$key")
      val jobs = perSpan.collect {
        case (id, a) if queryRoot.get(id).flatMap(byName.get).contains(s"query.$key") => a.jobs
      }.sum
      (ids.map(_.dur).sum / 1e9, jobs.toDouble)
    }
    def selfOf(p: String => Boolean): Double =
      spans.filter(s => inPass(s.id) && p(s.name)).map(s => self.getOrElse(s.id, 0L)).sum / 1e9
    def durOf(p: String => Boolean): Double =
      spans.filter(s => inPass(s.id) && p(s.name)).map(_.dur).sum / 1e9
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) 0.0 else { val s = xs.sorted; val n = s.size
        if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2 }
    def num(k: String): Double = caches.get(k) match {
      case Some(n: Long) => n.toDouble
      case Some(n: Int) => n.toDouble
      case _ => 0.0
    }

    val queries = (Main.HhKeys ++ Main.CurationKeys).flatMap { k =>
      val (s, jobs) = perQuery(k)
      Seq(s"query.$k.s" -> s, s"query.$k.jobs" -> jobs)
    }
    val reqs = Seq("ann", "search", "reach").map { k =>
      s"req.$k.ms" -> median(ops.filter(o => o.kind == k && o.ok).map(_.ms))
    }
    Map(
      "session.init_s" -> sessionInit,
      "jvm.jit_s" -> jvm("jit_s"),
      "jvm.gc_s" -> jvm("gc_s"),
      "jvm.code_cache_mb" -> jvm("code_cache_mb"),
      "scan.s" -> total.scanMs / 1e3,
      "scan.rows" -> total.scanRows.toDouble,
      "scan.bytes" -> total.scanBytes.toDouble,
      "write.bytes" -> write._1.toDouble,
      "write.files" -> write._2.toDouble,
      "spark.jobs" -> total.jobs.toDouble,
      "spark.stages" -> total.stages.toDouble,
      "spark.tasks" -> total.tasks.toDouble,
      "spark.task_wait_s" -> total.taskWaitMs / 1e3,
      "spark.executor_cpu_s" -> total.cpuNs / 1e9,
      "spark.executor_run_s" -> total.runMs / 1e3,
      "spark.gc_s" -> total.gcMs / 1e3,
      "spark.shuffle_read_bytes" -> total.shuffleRead.toDouble,
      "spark.shuffle_write_bytes" -> total.shuffleWrite.toDouble,
      "spark.spill_bytes" -> total.spill.toDouble,
      "spark.peak_exec_mem_mb" -> total.peakMem / 1048576.0,
      "spark.failed_tasks" -> total.failedTasks.toDouble,
      "plan.executions" -> total.executions.toDouble,
      "plan.exchanges" -> total.exchanges.toDouble,
      "plan.broadcasts" -> total.broadcasts.toDouble,
      "plan.analysis_s" -> total.analysisMs / 1e3,
      "plan.optimization_s" -> total.optimizationMs / 1e3,
      "plan.planning_s" -> total.planningMs / 1e3,
      "codegen.compile_s" -> cg.ms / 1e3,
      "codegen.classes" -> cg.classes.toDouble,
      "cache.frames_held" -> num("frames_held"),
      "cache.persisted_rdds" -> num("persisted_rdds"),
      "cache.mem_bytes" -> num("mem_bytes"),
      // where the pass's wall time went, by span kind
      "span.build_s" -> durOf(n => n == "entry.build" || n.startsWith("op.")),
      "span.exec_s" -> durOf(n => n == "exec.collect" || n == "collect" || n == "runner.runOne"),
      "span.harness_self_s" -> selfOf(n => n == "pass" || n.startsWith("query.") || n.startsWith("req.")),
      "trace.pass_s" -> passS,
      "trace.spans" -> spans.size.toDouble
    ) ++ queries ++ reqs
  }
}

/** Kernel throughput of the 21 registered `graft_*` functions, each
  * measured as rows per second of one SQL projection (or aggregate) over
  * a fixed in-memory batch built from the workload's own input: the
  * documents for the text kernels, the embeddings for the vector ones.
  * One warm-up execution, then the median of [[Trials]] timed ones. */
object Kernels {
  val BatchRows = 4000
  val Trials = 3

  val Text: Seq[(String, String)] = Seq(
    "graft_rolling_hash" -> "SELECT graft_rolling_hash(text) FROM kt",
    "graft_minhash" -> ("SELECT graft_minhash(hs, array(3L, 5L, 7L, 11L, 13L, 17L, 19L, 23L), " +
      "array(1L, 2L, 3L, 4L, 5L, 6L, 7L, 8L)) FROM kt"),
    "graft_simhash" -> "SELECT graft_simhash(toks) FROM kt",
    "graft_bloom_agg" -> "SELECT k, graft_bloom_agg(xxhash64(id), 65536, 5) FROM kt GROUP BY k",
    "graft_topk" -> "SELECT k, graft_topk(CAST(n AS DOUBLE), id, 10) FROM kt GROUP BY k",
    "graft_nfc" -> "SELECT graft_nfc(text) FROM kt",
    "graft_heavy_agg" -> "SELECT k, graft_heavy_agg(CAST(n % 50 AS BIGINT), 8) FROM kt GROUP BY k",
    "graft_match_mask" -> "SELECT graft_match_mask(text, 'spark', 'window', 'dup') FROM kt",
    "graft_seed_hashes" -> "SELECT graft_seed_hashes(toks, 8) FROM kt",
    "graft_deflate_len" -> "SELECT graft_deflate_len(text) FROM kt",
    "graft_tokens" -> "SELECT graft_tokens(text) FROM kt",
    "graft_quality_counts" -> "SELECT graft_quality_counts(text, 'the', 'a') FROM kt",
    "graft_bloom_contains" -> ("SELECT graft_bloom_contains(b.bf, xxhash64(kt.id)) FROM kt " +
      "CROSS JOIN (SELECT graft_bloom_agg(xxhash64(id), 65536, 5) AS bf FROM kt) b"),
    "graft_shingles" -> "SELECT graft_shingles(toks, 3) FROM kt",
    "graft_rolling_hashes" -> "SELECT graft_rolling_hashes(sh) FROM kt",
    "graft_pairs" -> "SELECT graft_pairs(ids) FROM kt",
    "graft_hamming_pairs" -> "SELECT graft_hamming_pairs(sims, 20) FROM kt",
    "graft_jaccard" -> "SELECT graft_jaccard(toks, reverse(sh)) FROM kt")
  val Vector: Seq[(String, String)] = Seq(
    "graft_dot" -> "SELECT graft_dot(e, e2) FROM kv",
    "graft_pq_subdots" -> "SELECT graft_pq_subdots(e, e2, 4, 16) FROM kv",
    "graft_srp_sigs" -> "SELECT graft_srp_sigs(e, 16, 4, 64) FROM kv")

  def measure(spark: SparkSession, data: String): Map[String, Double] = {
    def batch(df: org.apache.spark.sql.DataFrame, view: String) = {
      val n = df.count()
      val rep = math.max(1L, (BatchRows + n - 1) / n)
      val b = df.crossJoin(spark.range(rep).toDF("r")).persist()
      b.createOrReplaceTempView(view)
      b.count()
    }
    val docs = Tables.documents(spark, data)
    val kt = batch(docs.select(col("doc_id"), col("text")), "kt_raw")
    spark.sql(
      """SELECT doc_id * 1000 + r AS id, text, (doc_id * 1000 + r) % 64 AS k,
        |  length(text) AS n, toks, graft_shingles(toks, 3) AS sh,
        |  graft_rolling_hashes(graft_shingles(toks, 3)) AS hs,
        |  sequence(doc_id, doc_id + 11) AS ids,
        |  transform(sequence(0L, 11L), i -> named_struct('doc_id', doc_id + i,
        |    'simhash', graft_simhash(slice(toks, 1, 5)) + i)) AS sims
        |FROM (SELECT *, graft_tokens(text) AS toks FROM kt_raw)""".stripMargin)
      .persist().createOrReplaceTempView("kt")
    spark.table("kt").count()
    val emb = Tables.embeddings(spark, data)
    val kv = batch(emb.select(col("vec_id"), col("embedding").as("e"),
      reverse(col("embedding")).as("e2")), "kv")
    (Text.map(t => (t, kt)) ++ Vector.map(v => (v, kv))).map { case ((fn, sql), rows) =>
      Trace.span(s"kernel.$fn") {
        val run = () => {
          val t0 = System.nanoTime()
          spark.sql(sql).write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        run()
        val ts = Seq.fill(Trials)(run()).sorted
        fn -> rows / ts(Trials / 2)
      }
    }.toMap
  }
}
