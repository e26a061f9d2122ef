package graft.sinks

import java.util.UUID

import graft.io.ParquetSchema
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * Idempotent keyed upsert sink — the engine's replacement for the reference's
 * Elasticsearch document sink.
 *
 * The reference achieves exactly-once EFFECT on top of at-least-once delivery
 * by making the ES document id the derived `data_key`
 * (`es.mapping.id = data_key`, `/root/reference/bexley_spark_stream_msk_es.py:515`;
 * key built at :396): micro-batch replays overwrite rather than duplicate.
 *
 * This sink reproduces that contract on local storage with a crash-atomic
 * commit protocol (ES gives the reference per-doc atomicity; we get the
 * equivalent from an atomic manifest swap):
 *
 *  - State lives in `numBuckets` key-hash bucket directories, each holding
 *    immutable VERSIONED data dirs: `buckets/__bucket=<b>/<version>/part-*`.
 *  - The current state is defined solely by the highest-numbered manifest
 *    file `_manifest/<epoch%020d>.json` (bucket → version dir). Data dirs are
 *    written first; the commit point is the atomic create-by-rename of the
 *    manifest file. A crash at ANY intermediate point leaves the previous
 *    manifest — and therefore the previous state — fully intact. Version
 *    dirs staged by a crashed attempt (referenced by no manifest) are
 *    garbage-collected the next time their bucket is committed.
 *  - Replay of an already-committed epoch is skipped entirely (exactly-once
 *    effect): the guard compares against the HIGHEST committed epoch — the
 *    newest manifest always survives manifest GC, so the guard holds for
 *    epochs whose own manifest file has been collected too. An epoch at or
 *    below the high-water mark after a checkpoint rebuild (ids restarting
 *    from 0) is therefore rejected rather than silently re-applied.
 *  - Replay after a crash BEFORE commit re-merges against the old state and
 *    re-commits — last-write-wins by key makes the result identical.
 *  - GC retains every version referenced by the last `retainManifests`
 *    manifests, so a concurrent reader that resolved the previous manifest
 *    can finish its scan after the next commit (the table-format-style
 *    retention window).
 *
 * Within a micro-batch, duplicate keys resolve deterministically in arrival
 * order: incoming rows carry a monotonically-increasing sequence number and
 * the LAST occurrence of a key wins (the ES sink's last-write-wins order).
 *
 * Scale design: an upsert merges ONLY the buckets the incoming batch touches,
 * so a micro-batch touching k buckets rewrites k/numBuckets of the state,
 * never the whole table — the same pattern scales to a 1000-executor cluster
 * by raising numBuckets. Its job cost is fixed, not per bucket: the tagged
 * input is persisted, so the caller's plan is evaluated once; the touched
 * buckets come from one shuffle-free job over that cache; their version dirs
 * are listed and their schema read in-process, with no Spark job; and the
 * merge, window dedup and write share ONE hash exchange on the bucket id,
 * into at most `defaultParallelism` write tasks that still write one file
 * per bucket. `read` and `readAt` build their frame the same job-free way.
 */
final class KeyedParquetSink(path: String, keyCol: String, numBuckets: Int = 64,
    retainManifests: Int = 2) {
  require(retainManifests >= 2,
    "retention below 2 manifests would break the concurrent-reader window")

  /** Fault-injection point for crash-recovery verification: runs after the
    * staged data dirs are renamed into place but BEFORE the manifest commit
    * — the widest window in which a process crash leaves orphaned version
    * dirs. A hook that throws models `kill -9` at that instant: the commit
    * never happens, `read` still resolves the previous manifest, and the
    * epoch's replay (after restart) re-merges and re-commits identically.
    * Production code leaves this as the no-op default. */
  @volatile var beforeCommitHook: () => Unit = () => ()

  private def fs(spark: SparkSession) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def bucketOf(c: org.apache.spark.sql.Column) =
    pmod(xxhash64(c), lit(numBuckets))

  private val manifestDir = new Path(s"$path/_manifest")

  private def manifestPath(epochId: Long) =
    new Path(manifestDir, f"$epochId%020d.json")

  /** Committed manifest files, oldest → newest (filename IS the epoch). */
  private def listManifests(hfs: org.apache.hadoop.fs.FileSystem): Seq[Path] =
    if (!hfs.exists(manifestDir)) Seq.empty
    else hfs.listStatus(manifestDir).map(_.getPath)
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq

  private def readManifest(hfs: org.apache.hadoop.fs.FileSystem, p: Path): Map[Long, String] = {
    val in = hfs.open(p)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
    parseManifest(text)
  }

  /** bucket → current committed version-dir name, from the latest manifest. */
  private def currentVersions(spark: SparkSession): Map[Long, String] = {
    val hfs = fs(spark)
    listManifests(hfs).lastOption.map(readManifest(hfs, _)).getOrElse(Map.empty)
  }

  // Tiny hand-rolled (de)serialization for {"<bucket>":"<version>", ...} —
  // versions are UUID-suffixed dir names, so no escaping is ever needed.
  private def renderManifest(m: Map[Long, String]): String =
    m.toSeq.sortBy(_._1).map { case (b, v) => s""""$b":"$v"""" }.mkString("{", ",", "}")

  private def parseManifest(text: String): Map[Long, String] = {
    val entry = """"(\d+)":"([^"]+)"""".r
    entry.findAllMatchIn(text).map(m => m.group(1).toLong -> m.group(2)).toMap
  }

  private def bucketDataDir(b: Long, version: String) =
    new Path(s"$path/buckets/__bucket=$b/$version")

  /** Merges `incoming` with the committed rows of the buckets it touches and
    * moves each merged bucket to `buckets/__bucket=<b>/<version>`, where no
    * manifest references it yet. Returns the touched and the staged buckets. */
  private def stage(incoming: DataFrame, versions: Map[Long, String], version: String,
      hfs: FileSystem): (Seq[Long], Seq[Long]) = {
    val spark = incoming.sparkSession
    // One job, no shuffle: a bucket set per partition, combined by fold — a
    // zero-partition batch folds to the empty set, where reduce would throw.
    val touched = incoming.select("__bucket").rdd
      .mapPartitions(rows => Iterator(rows.map(_.getLong(0)).toSet))
      .fold(Set.empty[Long])(_ ++ _).toSeq.sorted
    if (touched.isEmpty) return (Nil, Nil)

    val existingDirs = touched.flatMap(b => versions.get(b).map(bucketDataDir(b, _)))
      .filter(hfs.exists)
    val merged =
      if (existingDirs.isEmpty) incoming
      else readVersionDirs(spark, existingDirs)
        .withColumn("__bucket", bucketOf(col(keyCol)))
        .withColumn("__w", lit(0))
        .withColumn("__seq", lit(-1L))
        .unionByName(incoming)

    val staging = new Path(s"$path/_staging_$version")
    // One hash exchange on the bucket id serves both the window and the
    // write: a partitioning on __bucket already clusters (__bucket, key), so
    // the window adds no shuffle of its own. Every bucket lands in one task,
    // and so in one file, while the task count stays within the cores
    // (min(touched, defaultParallelism)) instead of one task per bucket. For
    // buckets that outgrow a single task, raise numBuckets (the unit of file
    // granularity).
    val w = Window.partitionBy(col("__bucket"), col(keyCol))
      .orderBy(col("__w").desc, col("__seq").desc)
    merged
      .repartition(math.min(touched.size, spark.sparkContext.defaultParallelism), col("__bucket"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__w", "__seq")
      .write.mode("overwrite").partitionBy("__bucket").parquet(staging.toString)
    val stagedBuckets = touched.filter(b => hfs.exists(new Path(staging, s"__bucket=$b")))
    stagedBuckets.foreach { b =>
      val dst = bucketDataDir(b, version)
      hfs.mkdirs(dst.getParent)
      hfs.rename(new Path(staging, s"__bucket=$b"), dst)
    }
    hfs.delete(staging, true)
    (touched, stagedBuckets)
  }

  /** The committed rows of `dirs`, read in groups no larger than the
    * session's parallel-listing threshold so every group is listed serially
    * in-process instead of by a listing job, and with the footer schema of
    * the first dir ([[graft.io.ParquetSchema]]) so no schema-inference job
    * runs. That is the schema inference would pick, so `unionByName` rejects
    * a drifted batch as before. */
  private def readVersionDirs(spark: SparkSession, dirs: Seq[Path]): DataFrame = {
    val groupSize = math.max(1,
      spark.conf.get("spark.sql.sources.parallelPartitionDiscovery.threshold").toInt)
    val schema = ParquetSchema.of(spark, dirs.head.toString)
    dirs.grouped(groupSize)
      .map(g => spark.read.schema(schema).parquet(g.map(_.toString): _*))
      .reduce(_ union _)
  }

  /** Upsert a (batch) DataFrame: incoming rows win over existing rows on keyCol;
    * within the batch the last occurrence of a key (arrival order) wins. */
  def upsert(batch: DataFrame, epochId: Long): Unit = {
    val spark = batch.sparkSession
    val hfs = fs(spark)
    // High-water-mark replay guard: the newest manifest survives manifest GC,
    // so max committed epoch is always recoverable from the filenames even
    // after per-epoch manifests are collected. epochId <= max with a
    // matching manifest is a genuine replay (skip silently — exactly-once
    // effect; Spark only replays recent epochs, whose manifests the GC
    // retains). WITHOUT a matching manifest it means the streaming
    // checkpoint was rebuilt and epoch ids restarted — those batches carry
    // NEW data, and skipping them would silently drop every batch until the
    // counter climbed past the old high-water mark, so fail fast and make
    // the operator point the query at a fresh sink path (or clear this one).
    val committed = listManifests(hfs)
    committed.lastOption.map(_.getName.stripSuffix(".json").toLong).foreach { maxEpoch =>
      if (epochId <= maxEpoch) {
        if (!hfs.exists(manifestPath(epochId)))
          throw new IllegalStateException(
            s"epoch $epochId is at or below the committed high-water mark $maxEpoch " +
              "but has no manifest - the streaming checkpoint was likely rebuilt " +
              "(epoch ids restarted). Refusing to silently drop or re-apply data; " +
              "point the query at a fresh sink path or remove this sink's state.")
        return
      }
    }

    // __w: incoming beats existing; __seq: deterministic intra-batch
    // last-write-wins (ADVICE round 1) — existing rows get __seq = -1.
    // Persisted below so the caller's plan (scan, decode, enrich) runs once,
    // and __seq is drawn once, for both the touched-bucket job and the write.
    val incoming = batch
      .withColumn("__bucket", bucketOf(col(keyCol)))
      .withColumn("__w", lit(1))
      .withColumn("__seq", monotonically_increasing_id())
    val versions = currentVersions(spark)
    val version = s"v${epochId}_${UUID.randomUUID().toString.take(8)}"

    // 1. Stage the merged buckets (data dirs are invisible until the manifest
    //    commit below; a crash here leaves only ignorable orphans).
    incoming.persist(StorageLevel.MEMORY_AND_DISK)
    val (touched, stagedBuckets) =
      try stage(incoming, versions, version, hfs) finally incoming.unpersist()

    beforeCommitHook() // crash window: staged data visible, nothing committed

    // 2. COMMIT: atomically create the next manifest. Buckets whose keys all
    //    disappeared from the merge (not staged) keep no version = empty.
    val newVersions = versions --
      touched.filterNot(stagedBuckets.contains) ++
      stagedBuckets.map(_ -> version)
    hfs.mkdirs(manifestDir)
    val tmp = new Path(manifestDir, s".tmp_$version")
    val out = hfs.create(tmp, false)
    try out.write(renderManifest(newVersions).getBytes("UTF-8")) finally out.close()
    if (!hfs.rename(tmp, manifestPath(epochId))) {
      hfs.delete(tmp, true) // lost a race / replay already committed this epoch
      return
    }

    // 3. Best-effort GC (the state is defined solely by the newest manifest,
    //    so this is safe to skip on crash — the next commit retries).
    //    Retention set = every version referenced by the last
    //    `retainManifests` manifests: superseded versions survive one more
    //    commit for concurrent readers of the previous manifest, and
    //    anything else in a touched bucket's directory — crashed-attempt
    //    orphans included — is deleted.
    val manifestsAfter = listManifests(hfs)
    val retained: Set[(Long, String)] = manifestsAfter.takeRight(retainManifests)
      .flatMap(p => readManifest(hfs, p).toSeq).toSet
    touched.foreach { b =>
      val bucketDir = new Path(s"$path/buckets/__bucket=$b")
      if (hfs.exists(bucketDir)) hfs.listStatus(bucketDir).map(_.getPath).foreach { d =>
        if (!retained.contains((b, d.getName))) hfs.delete(d, true)
      }
    }
    manifestsAfter.dropRight(retainManifests).foreach(hfs.delete(_, false))
  }

  /** Current committed keyed state, if any epoch has been committed. */
  def read(spark: SparkSession): Option[DataFrame] =
    readVersions(spark, currentVersions(spark))

  /** The rows of the manifest `versions`, built with no Spark job (see
    * `readVersionDirs`); None for an empty manifest. */
  private def readVersions(spark: SparkSession, versions: Map[Long, String]): Option[DataFrame] =
    if (versions.isEmpty) None
    else Some(readVersionDirs(spark, versions.toSeq.sorted.map { case (b, v) => bucketDataDir(b, v) }))

  /** Epochs readable right now, oldest first — bounded by `retainManifests`
    * (GC keeps every version the retained manifests reference). */
  def readableEpochs(spark: SparkSession): Seq[Long] =
    listManifests(fs(spark)).map(_.getName.stripSuffix(".json").toLong)

  /** Time travel within the retention window: the keyed state exactly as of
    * the commit of `epochId` — the table-format read pattern the retention
    * GC exists to serve (a reader resolving an older retained manifest must
    * find every version dir it references still on disk). */
  def readAt(spark: SparkSession, epochId: Long): Option[DataFrame] = {
    val hfs = fs(spark)
    val p = manifestPath(epochId)
    if (!hfs.exists(p)) None else readVersions(spark, readManifest(hfs, p))
  }
}
