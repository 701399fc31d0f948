package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.storage.StorageLevel

class CachesSpec extends SparkSpec {
  import spark.implicits._

  test("hold persists and clear releases exactly the tracked frames") {
    Caches.clear()
    val a = Seq(1, 2, 3).toDF("x").transform(Caches.hold)
    val b = Seq(4).toDF("y").transform(Caches.hold)
    a.count(); b.count()
    assert(a.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(b.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(Caches.tracked.size == 2)
    // an untracked caller-persisted frame must survive the clear
    val mine = Seq(9).toDF("z").persist(StorageLevel.MEMORY_AND_DISK)
    mine.count()
    Caches.clear()
    assert(Caches.tracked.isEmpty)
    assert(a.storageLevel == StorageLevel.NONE)
    assert(b.storageLevel == StorageLevel.NONE)
    assert(mine.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // a released frame still computes (recompute, not error)
    assert(a.count() == 3)
    mine.unpersist()
  }

  test("memo builds once per (input, kind) and re-registers after a drop") {
    Caches.clear()
    val in = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    var builds = 0
    val f1 = Caches.memo(in, "spec") { builds += 1; in.select("id") }
    val f2 = Caches.memo(in, "spec") { builds += 1; in.select("id") }
    assert((f1 eq f2) && builds == 1)
    // a different kind over the same input is a different artifact
    Caches.memo(in, "spec2") { builds += 1; in.select("v") }
    assert(builds == 2)
    // external scoped cleanup drops the buffers -> lookup re-registers
    // the SAME frame without rebuilding the plan
    f1.unpersist(blocking = true)
    assert(f1.storageLevel == StorageLevel.NONE)
    val f3 = Caches.memo(in, "spec") { builds += 1; in.select("id") }
    assert((f3 eq f1) && builds == 2)
    assert(f1.storageLevel == StorageLevel.MEMORY_AND_DISK)
    Caches.clear()
  }

  test("operators still answer after a mid-session clear") {
    val docs = Tables.documents(spark, sf("documents"))
    val before = operators.TextAnalysis.tfidf(docs, 3).count()
    Caches.clear()
    assert(operators.TextAnalysis.tfidf(docs, 3).count() == before)
  }

  test("span family shares ONE seed frame per corpus across all three ops") {
    import graft.operators.NearDup
    Caches.clear()
    val planted = NearDup.plantSpans(
      Tables.documents(spark, sf("documents")))
    assert(NearDup.spanDedup(planted, 8).count() > 0)
    // the seed frame spanDedup built is memoized under the corpus
    // plan — a second consumer must get a memo HIT, not rebuild the
    // tokenize+hash scan (the round-6 3-scans-for-one-artifact cost)
    var rebuilt = false
    Caches.memo(planted, "neardup.seeds.8") { rebuilt = true; planted }
    assert(!rebuilt,
      "spanStrip/seedNovelty would rebuild the seed frame — memo key drifted")
    val trackedBefore = Caches.tracked.size
    NearDup.spanStrip(planted, 8).count()
    NearDup.seedNovelty(planted, 8).count()
    assert(Caches.tracked.size == trackedBefore,
      "strip/novelty registered extra seed frames instead of sharing")
    Caches.clear()
  }

  /** Spark jobs launched on this thread while `build` constructs (not
    * runs) a frame. A marker job follows the build; listener events
    * arrive in order, so once the marker is seen every build job is. */
  private def jobsDuring(build: => Any): Int = {
    val sc = spark.sparkContext
    val groups = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .getOrElse(""))
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(body: => Any): Unit = {
        sc.setJobGroup(g, g)
        try body finally sc.clearJobGroup()
      }
      inGroup("caches-spec-build")(build)
      inGroup("caches-spec-marker")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!groups.contains("caches-spec-marker") &&
        System.nanoTime() < deadline) Thread.sleep(10)
      assert(groups.contains("caches-spec-marker"), "marker job never seen")
      groups.toArray.count(_ == "caches-spec-build")
    } finally sc.removeSparkListener(listener)
  }

  test("clear() alone releases the affinity frames and the IVF driver memos") {
    val dir = sf("lineitem")
    Caches.clear()
    assert(SparkEntry.queries("q_item_similarity")(spark, dir).count() > 0)
    // the memo hands back the pair frame q_item_similarity built
    val pairs = operators.Affinity.coPurchasePairs(Tables.lineitem(spark, dir))
    assert(Caches.tracked.exists(_ eq pairs), "pair frame not memoized")
    assert(pairs.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(SparkEntry.queries("q_ann_ivf")(spark, dir).count() > 0)
    // a warm build reads the memoized corpus count and centroids; its
    // remaining jobs are the per-build centroid-table collect
    val warm = jobsDuring(SparkEntry.queries("q_ann_ivf")(spark, dir))
    Caches.clear()
    assert(Caches.tracked.isEmpty)
    assert(pairs.storageLevel == StorageLevel.NONE)
    val cold = jobsDuring(SparkEntry.queries("q_ann_ivf")(spark, dir))
    assert(cold > warm,
      s"the IVF centroids survived Caches.clear(): $cold jobs vs $warm warm")
    Caches.clear()
  }
}
