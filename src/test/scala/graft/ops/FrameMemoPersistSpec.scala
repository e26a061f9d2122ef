package graft.ops

import graft.SparkSpec
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-session persistence of [[FrameMemo.cachedPersistent]]: the
  * parquet spill must (a) round-trip the built frame hash-identically,
  * (b) actually SERVE the reload path (a second "session" — modeled by
  * invalidating the in-JVM memo — must not rebuild), (c) miss on a
  * changed fingerprint or version-bearing key, and (d) treat a dir
  * without `_SUCCESS` as crash debris, not a hit. */
class FrameMemoPersistSpec extends SparkSpec {

  private def withRoot[T](body: String => T): T = {
    val root = tmpDir("graft-memo-spec")
    val prev = spark.conf.getOption("spark.graft.memo.dir")
    spark.conf.set("spark.graft.memo.dir", root)
    try body(root)
    finally {
      prev match {
        case Some(v) => spark.conf.set("spark.graft.memo.dir", v)
        case None => spark.conf.unset("spark.graft.memo.dir")
      }
      FrameMemo.invalidate()
    }
  }

  private def frame() = spark.range(500).toDF("id")
    .withColumn("v", md5(col("id").cast("string")))

  test("load-vs-build hash parity, and the reload path serves without rebuilding") {
    withRoot { root =>
      FrameMemo.invalidate()
      var builds = 0
      def build = { builds += 1; frame() }
      val first = FrameMemo.cachedPersistent(spark, "pmemo-spec:v1", "fp-a")(build)
      val want = first.orderBy("id").collect().toSeq
      assert(builds === 1)
      assert(want.size === 500)
      // same session, same key: in-memory hit, no disk relist
      FrameMemo.cachedPersistent(spark, "pmemo-spec:v1", "fp-a")(build)
      assert(builds === 1)
      // "new session": drop the in-JVM memo; a build that would THROW
      // proves the parquet reload path is what serves the frame
      FrameMemo.invalidate()
      val reloaded = FrameMemo.cachedPersistent(spark, "pmemo-spec:v1", "fp-a")(
        sys.error("reload path must not rebuild"))
      assert(reloaded.orderBy("id").collect().toSeq === want)
    }
  }

  test("fingerprint or version change misses and rebuilds") {
    withRoot { root =>
      FrameMemo.invalidate()
      var builds = 0
      def build = { builds += 1; frame() }
      FrameMemo.cachedPersistent(spark, "pmemo-spec:v1", "fp-a")(build)
      assert(builds === 1)
      FrameMemo.invalidate()
      FrameMemo.cachedPersistent(spark, "pmemo-spec:v1", "fp-CHANGED")(build)
      assert(builds === 2, "regenerated source (new fingerprint) must rebuild")
      FrameMemo.invalidate()
      FrameMemo.cachedPersistent(spark, "pmemo-spec:v2", "fp-a")(build)
      assert(builds === 3, "bumped builder version must rebuild")
    }
  }

  test("reload serves from a protected in-session hot tier, not a per-run parquet scan") {
    withRoot { root =>
      FrameMemo.invalidate()
      FrameMemo.cachedPersistent(spark, "pmemo-hot:v1", "fp-a")(frame())
      FrameMemo.invalidate()
      val before = FrameMemo.protectedIds
      val reloaded = FrameMemo.cachedPersistent(spark, "pmemo-hot:v1", "fp-a")(
        sys.error("reload path must not rebuild"))
      // the hot tier is an eager lineage cut: its blocks exist NOW and
      // are registered for bench-sweep protection
      val fresh = FrameMemo.protectedIds -- before
      assert(fresh.nonEmpty, "reload must register protected hot-tier blocks")
      assert(fresh.forall(spark.sparkContext.getPersistentRDDs.contains),
        "hot-tier blocks must be persisted eagerly at reload time")
      assert(reloaded.count() === 500)
    }
  }

  test("the layout hook's clustering survives into the reloaded hot tier") {
    withRoot { root =>
      FrameMemo.invalidate()
      FrameMemo.cachedPersistent(spark, "pmemo-layout:v1", "fp-a")(frame())
      FrameMemo.invalidate()
      val reloaded = FrameMemo.cachedPersistent(spark, "pmemo-layout:v1",
        "fp-a", layout = _.repartition(col("id")))(
        sys.error("reload path must not rebuild"))
      // the eager cut's LogicalRDD must carry the hash clustering — this
      // is the whole point of the hook: consumers join on the key
      // without re-shuffling the index (round 13's q411 regression)
      val part = reloaded.queryExecution.executedPlan.outputPartitioning
      assert(part.toString.toLowerCase.contains("hashpartitioning(id"),
        s"reloaded frame lost its layout: $part")
    }
  }

  test("re-opening a built index starts no schema-inference job, on either tier") {
    withRoot { root =>
      FrameMemo.invalidate()
      FrameMemo.cachedPersistent(spark, "pmemo-open:v1", "fp-a")(frame())
      val sc = spark.sparkContext
      // a bare parquet read infers its schema in a job whose call site is the
      // reader's `parquet` call; the hot tier's own jobs are its eager cut
      val jobs = scala.collection.mutable.ArrayBuffer.empty[String]
      val l = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          jobs.synchronized(jobs ++= e.stageInfos.map(_.name))
      }
      def opened(hot: Boolean): (DataFrame, Seq[String]) = {
        FrameMemo.invalidate()
        ListenerBusDrain(sc)
        jobs.clear()
        sc.addSparkListener(l)
        try {
          val df = FrameMemo.cachedPersistent(spark, "pmemo-open:v1", "fp-a",
            layout = _.repartition(col("id")), hot = hot)(sys.error("reload path must not rebuild"))
          ListenerBusDrain(sc)
          (df, jobs.synchronized(jobs.toSeq))
        } finally sc.removeSparkListener(l)
      }
      val (cold, coldJobs) = opened(hot = false)
      assert(coldJobs.isEmpty, s"cold open started jobs: $coldJobs")
      val (hot, hotJobs) = opened(hot = true)
      assert(hotJobs.nonEmpty, "the hot tier materializes its cut at open")
      assert(!hotJobs.exists(_.startsWith("parquet at")),
        s"hot open ran a schema-inference job: $hotJobs")
      // the layout-survival law holds on the footer-schema read
      val part = hot.queryExecution.executedPlan.outputPartitioning
      assert(part.toString.toLowerCase.contains("hashpartitioning(id"),
        s"reloaded frame lost its layout: $part")
      assert(cold.orderBy("id").collect().toSeq === hot.orderBy("id").collect().toSeq)
    }
  }

  test("a crashed race loser's nested .tmp- dir inside the index is swept before reading") {
    withRoot { root =>
      FrameMemo.invalidate()
      FrameMemo.cachedPersistent(spark, "pmemo-race:v1", "fp-a")(frame())
      // simulate the loser that died between nesting and cleanup: a
      // sibling-shaped '<index>.tmp-xxxx' dir holding a full duplicate
      val dir = new java.io.File(root).listFiles()
        .find(_.getName.startsWith("pmemo-race")).get
      val nested = new java.io.File(dir, dir.getName + ".tmp-deadbeef")
      frame().write.parquet(nested.getAbsolutePath)
      FrameMemo.invalidate()
      val served = FrameMemo.cachedPersistent(spark, "pmemo-race:v1", "fp-a")(
        sys.error("reload path must not rebuild"))
      assert(served.count() === 500,
        "nested tmp debris must not double-count rows")
      assert(!nested.exists(), "debris dir must be deleted, not just skipped")
    }
  }

  test("hot and cold tiers are hash-identical, and the cold tier pins nothing") {
    withRoot { root =>
      FrameMemo.invalidate()
      FrameMemo.cachedPersistent(spark, "pmemo-tier:v1", "fp-a")(frame())
      FrameMemo.invalidate()
      val before = FrameMemo.protectedIds
      val cold = FrameMemo.cachedPersistent(spark, "pmemo-tier:v1", "fp-a",
        hot = false)(sys.error("reload path must not rebuild"))
      assert(FrameMemo.protectedIds === before,
        "cold tier must not register protected blocks (nothing pinned)")
      // same session may hold BOTH tiers (distinct memo keys, same files)
      val hot = FrameMemo.cachedPersistent(spark, "pmemo-tier:v1", "fp-a")(
        sys.error("reload path must not rebuild"))
      assert(cold.orderBy("id").collect().toSeq
        === hot.orderBy("id").collect().toSeq,
        "tiers must serve identical rows from the same spill")
    }
  }

  test("the cold tier still applies the layout hook (lazily, per read)") {
    withRoot { root =>
      FrameMemo.invalidate()
      FrameMemo.cachedPersistent(spark, "pmemo-tierlay:v1", "fp-a")(frame())
      FrameMemo.invalidate()
      val cold = FrameMemo.cachedPersistent(spark, "pmemo-tierlay:v1", "fp-a",
        layout = _.repartition(col("id")), hot = false)(
        sys.error("reload path must not rebuild"))
      // the cold frame is a lazy plan under AQE, so its pre-execution
      // outputPartitioning reads Unknown — assert the layout's
      // repartition is IN the plan (each consumer read pays it; that is
      // the documented cold trade) rather than on a materialized cut
      val plan = cold.queryExecution.optimizedPlan.toString
      assert(plan.contains("RepartitionByExpression [id"),
        s"cold tier must carry the layout hook in its plan:\n$plan")
    }
  }

  test("fileFingerprint fails loudly on a nonexistent path") {
    intercept[IllegalArgumentException] {
      FrameMemo.fileFingerprint("/no/such/path/graft-fingerprint-spec")
    }
  }

  test("a spill dir without _SUCCESS is crash debris: cleared and rebuilt") {
    withRoot { root =>
      FrameMemo.invalidate()
      var builds = 0
      def build = { builds += 1; frame() }
      FrameMemo.cachedPersistent(spark, "pmemo-debris:v1", "fp-a")(build)
      assert(builds === 1)
      // simulate a crashed writer: remove the success marker
      val dir = new java.io.File(root).listFiles()
        .find(_.getName.startsWith("pmemo-debris")).get
      assert(new java.io.File(dir, "_SUCCESS").delete())
      FrameMemo.invalidate()
      val again = FrameMemo.cachedPersistent(spark, "pmemo-debris:v1", "fp-a")(build)
      assert(builds === 2, "missing _SUCCESS must not be served as a hit")
      assert(again.count() === 500)
    }
  }
}
