package graft.ingest

import java.util.concurrent.{Callable, ConcurrentLinkedQueue, Executors}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{KubeOps, ListingOps, TimeOps}

/** The reference's ingest control loop re-expressed as a batch pipeline
  * (SURVEY.md §2.9 T1–T8, §3.1): poll a bucket prefix for timestamped
  * folders, gate on the manifest commit marker, consume the OLDEST folder,
  * load its CSV.gz entity files into two sinks with the reference's
  * ordering semantics (bulk ⇒ parallel, delta ⇒ neo4j strictly before
  * elastic — ingestor.js:272–287), delete the folder's objects, and append
  * a metrics row with the reference's duration format.
  *
  * The "bucket" is any Hadoop-FS-visible directory (file:// in tests,
  * s3a:// in production — the FileSystem API is identical). Sinks are
  * parquet tables under a warehouse dir, written with overwrite per
  * (sink, ingest) — the idempotency analogue of the reference deleting old
  * k8s jobs before relaunch (S10, ingestor.js:136–146).
  *
  * Scale notes: the data plane is `spark.read.csv` → `write.parquet`,
  * fully distributed; only the tiny control decisions (which folder,
  * manifest present) are driver-side, mirroring the reference where the
  * control loop is a single node but the load runs on the cluster.
  */
object IngestPipeline {

  final case class IngestParams(ingestName: String, ingestType: String)

  final case class IngestMetrics(
      ingest: String,
      `type`: String,
      load_date: java.sql.Timestamp,
      readable_date: String,
      neo_job_duration: String,
      elastic_job_duration: String,
      total_job_duration: String)

  /** T8 `Times` session state (helpers.js:89–120): start/end per sink;
    * `isComplete` is the barrier predicate. */
  final class Times {
    var neoStart: Option[Long] = None
    var neoEnd: Option[Long] = None
    var elasticStart: Option[Long] = None
    var elasticEnd: Option[Long] = None
    def isComplete: Boolean = neoEnd.isDefined && elasticEnd.isDefined
    def reset(): Unit = {
      neoStart = None; neoEnd = None; elasticStart = None; elasticEnd = None
    }
  }

  /** Reference duration format (helpers.js:65–73): Hh:MMmins, days
    * truncated, 'timestamp error' when the end is missing. */
  def formatDuration(startSec: Option[Long], endSec: Option[Long]): String =
    (startSec, endSec) match {
      case (Some(s), Some(e)) =>
        val seconds = e - s
        f"${(seconds / 3600) % 24}%dh:${(seconds / 60) % 60}%02dmins"
      case _ => "timestamp error"
    }

  private def fs(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** S1: list every object key under `bucket` (recursive), relative to
    * the bucket root — the Spark face of `s3.listObjectsV2`. */
  def listKeys(spark: SparkSession, bucket: String): DataFrame = {
    import spark.implicits._
    val root = new Path(bucket)
    val filesystem = fs(spark, bucket)
    val keys = mutable.ArrayBuffer.empty[String]
    if (filesystem.exists(root)) {
      val it = filesystem.listFiles(root, true)
      val rootUri = filesystem.makeQualified(root).toUri
      while (it.hasNext) {
        val f = it.next()
        keys += rootUri.relativize(f.getPath.toUri).getPath
      }
    }
    keys.toSeq.toDF("key")
  }

  /** S1 at 100 TB: `listKeys` above mirrors the reference's single-node
    * control plane (an ArrayBuffer of keys on the driver) — correct for
    * control-plane-sized listings, but a bucket with tens of millions of
    * objects belongs on the executors. This face shards the listing the
    * standard way: the driver lists only the FIRST level (the shard
    * prefixes), and each executor recursively lists its shard — the
    * driver never holds more than the shard list, and the full key set
    * is born distributed. Keys are relative to the bucket root and
    * byte-identical to `listKeys` (including zero-length marker files,
    * which file-content sources silently drop). */
  def listKeysDistributed(spark: SparkSession, bucket: String): DataFrame = {
    import spark.implicits._
    val root = new Path(bucket)
    val filesystem = fs(spark, bucket)
    if (!filesystem.exists(root)) return Seq.empty[String].toDF("key")
    val rootUri = filesystem.makeQualified(root).toUri
    val shards = filesystem.listStatus(root).map(_.getPath.toString).toSeq.sorted
    if (shards.isEmpty) return Seq.empty[String].toDF("key")
    val bcConf = spark.sparkContext.broadcast(
      new org.apache.spark.util.SerializableConfiguration(
        spark.sparkContext.hadoopConfiguration))
    spark.createDataset(shards)
      .repartition(math.min(shards.size, spark.sparkContext.defaultParallelism))
      .mapPartitions { it =>
        it.flatMap { shard =>
          val p = new Path(shard)
          val fsys = p.getFileSystem(bcConf.value.value)
          if (fsys.getFileStatus(p).isDirectory) {
            val files = fsys.listFiles(p, true)
            val out = mutable.ArrayBuffer.empty[String]
            while (files.hasNext)
              out += rootUri.relativize(files.next().getPath.toUri).getPath
            out
          } else Seq(rootUri.relativize(p.toUri).getPath)
        }
      }
      .toDF("key")
  }

  /** §3.2: the oldest pending ingest, or None while the bucket has no
    * valid timestamped marker folder (the wait states of ingestor.js:82–96). */
  def oldestPending(listing: DataFrame): Option[IngestParams] = {
    val rows = ListingOps.oldestPendingIngest(listing).collect()
    rows.headOption.map(r => IngestParams(r.getString(0), r.getString(1)))
  }

  /** T3: the manifest commit-marker gate (ingestor.js:109–118). */
  def manifestPresent(listing: DataFrame, ingestName: String): Boolean =
    !listing.filter(col("key") === s"pending/$ingestName/manifest.json").isEmpty

  /** The reference's `start` loop (ingestor.js:71–103) with an
    * INJECTABLE listing supplier — the mock-sequenced jest contract
    * (s3-client.spec.js:8–14 over __mocks__/s3-client.js:95–101): a
    * poll that errors, lists an empty bucket, has no timestamped
    * folders, or has timestamped folders but no valid marker file
    * keeps polling; the first listing with a valid oldest ingest
    * returns it together with the number of polls spent, so the spec
    * can assert the exact poll count per wait state like the jest
    * mocks do. Driver-paced like the reference's setTimeout loop (the
    * production face is IngestStream's ProcessingTime trigger). */
  /** The reference's setTimeout-poll-until-success loop, ONCE for all
    * four pollers: counts attempts, swallows a NonFatal supplier
    * failure as "poll again" (ingestor.js:76–80 — AWS/exec error ⇒
    * log + retry), throws past `maxPolls`. */
  private def pollUntil[A](maxPolls: Int, what: String)
                          (attempt: () => Option[A]): (A, Int) = {
    var polls = 0
    while (polls < maxPolls) {
      polls += 1
      val r = try attempt()
              catch { case scala.util.control.NonFatal(_) => None }
      r match {
        case Some(a) => return (a, polls)
        case None => ()
      }
    }
    throw new IllegalStateException(s"$what after $maxPolls polls")
  }

  def pollForIngest(nextListing: () => DataFrame,
                    maxPolls: Int = 1000): (IngestParams, Int) =
    pollUntil(maxPolls, "no valid ingest") { () =>
      val listing = nextListing()
      if (listing.isEmpty) None // ingestor.js:81 (empty bucket)
      else {
        val hasTs = ListingOps.hasTimestampFolders(listing)
          .collect().headOption.exists(_.getBoolean(0))
        if (!hasTs) None // ingestor.js:85 (no timestamped folders)
        else oldestPending(listing) // :91–95 (None ⇒ invalid folders)
      }
    }

  /** `waitForManifest` (ingestor.js:109–118) with an injectable
    * supplier: polls until `pending/<name>/manifest.json` appears,
    * returning the poll count (the jest mock sequence asserts 4:
    * empty → no ts folders → folder without manifest → manifest,
    * __mocks__/s3-client.js:103–107). */
  def pollForManifest(nextListing: () => DataFrame, ingestName: String,
                      maxPolls: Int = 1000): Int =
    pollUntil(maxPolls, "manifest absent") { () =>
      if (manifestPresent(nextListing(), ingestName)) Some(()) else None
    }._2

  /** `checkJobStatus` (ingestor.js:211–224) with an injectable kubectl
    * supplier: polls the job JSON until status.succeeded is truthy —
    * exec error (supplier throws), empty stdout, and a still-running job
    * all poll again (the jest get_job_status sequence asserts 4:
    * error → "" → running → complete, __mocks__/child_process.js:51–54,
    * ingestor.spec.js "should wait for a job to finish"). */
  def pollForJobComplete(spark: SparkSession, nextJobsJson: () => String,
                         maxPolls: Int = 1000): Int =
    pollUntil(maxPolls, "job not complete") { () =>
      if (KubeOps.jobCompleteJson(spark, nextJobsJson())) Some(()) else None
    }._2

  /** `checkPodStatus` (ingestor.js:196–209) with an injectable supplier:
    * polls the pod JSON until the build container reports ready — exec
    * error and a not-ready build container poll again (the jest
    * get_pod_status sequence asserts 3: error → build-not-ready →
    * build-ready, __mocks__/child_process.js:45–48, ingestor.spec.js
    * "should wait for a pod to be in a ready state"; note the third
    * fixture is ready for THIS check — its staleness only matters to
    * the rolling-update freshness poller, [[awaitRollingUpdate]]). */
  def pollForPodReady(spark: SparkSession, nextPodJson: () => String,
                      maxPolls: Int = 1000): Int =
    pollUntil(maxPolls, "pod not ready") { () =>
      if (KubeOps.podReadyJson(spark, nextPodJson())) Some(()) else None
    }._2

  /** J3: files present vs declared; returns (undeclared, missing) names. */
  def reconcile(spark: SparkSession, listing: DataFrame, bucket: String,
                ingestName: String): (Seq[String], Seq[String]) = {
    val folderFiles = listing
      .filter(col("key").startsWith(s"pending/$ingestName/"))
    val manifest = spark.read
      .schema("FileName STRING, SHA256 STRING")
      .json(s"$bucket/pending/$ingestName/manifest.json")
    val rec = ListingOps.reconcileManifest(folderFiles, manifest).collect()
    (rec.filter(_.getString(1) == "undeclared").map(_.getString(0)).toSeq,
      rec.filter(_.getString(1) == "missing").map(_.getString(0)).toSeq)
  }

  /** F10/J3: verify manifest SHA256 declarations against the actual
    * file bytes (the reference only checks manifest *presence*,
    * ingestor.js:109–118; we implement the full integrity check the
    * manifest design implies, README.md:17–33). Distributed: the
    * binaryFile source hashes on executors. */
  def verifyChecksums(spark: SparkSession, bucket: String,
                      ingestName: String): DataFrame = {
    val manifest = spark.read
      .schema("FileName STRING, SHA256 STRING")
      .json(s"$bucket/pending/$ingestName/manifest.json")
    val actual = spark.read.format("binaryFile")
      .option("pathGlobFilter", "*.csv.gz")
      .option("recursiveFileLookup", "true")
      .load(s"$bucket/pending/$ingestName/")
      .select(
        element_at(split(col("path"), "/"), -1).as("FileName"),
        lower(sha2(col("content"), 256)).as("actual_sha256"))
    manifest.join(actual, Seq("FileName"), "left")
      .select(col("FileName"), col("SHA256").as("declared_sha256"),
        col("actual_sha256"),
        (col("actual_sha256").isNotNull &&
          lower(col("SHA256")) === col("actual_sha256")).as("ok"))
  }

  /** Entity names present in the ingest folder (subdirectories with a
    * `<entity>_headers.csv.gz` / `<entity>_sample.csv.gz` pair —
    * s3-client.js:20–29). Deduplicated on the driver: a folder holds a
    * handful of entities, and over the driver-built [[listKeys]]
    * listing the project and filter fold into a local relation, so the
    * names arrive without a Spark job (a `distinct` would add a
    * shuffle job to every cycle). */
  def entities(listing: DataFrame, ingestName: String): Seq[String] =
    listing
      .filter(col("key").startsWith(s"pending/$ingestName/"))
      .select(get(split(col("key"), "/"), lit(2)).as("entity"),
        get(split(col("key"), "/"), lit(3)).as("file"))
      .filter(col("file").isNotNull)
      .select("entity").collect().map(_.getString(0)).toSeq.distinct.sorted

  /** S5: load one entity's CSV.gz pair — header row shipped in the
    * sidecar `_headers` file, data in `_sample` (schema-on-file). */
  /** S5: entity CSV.gz with sidecar-header schema, served by the
    * DataSource V2 implementation (sources/v2/GraftIngestSource —
    * per-file partitions, column pruning, filter pushdown;
    * IngestSourceSpec pins parity with the plain `spark.read.csv`
    * formulation this used to be). */
  def loadEntity(spark: SparkSession, bucket: String, ingestName: String,
                 entity: String): DataFrame =
    spark.read.format("graft-ingest")
      .option("path", s"$bucket/pending/$ingestName/$entity")
      .option("entity", entity)
      .load()

  /** Runs `tasks` on at most `width` threads and waits for ALL of them
    * (join-all): a failure stops tasks that have not started yet, but
    * never abandons one that has, so no write is still running when the
    * caller sees the error (a retry could otherwise race it on the same
    * target). The first failure is rethrown with any later ones
    * attached as suppressed. The threads are created per call so they
    * inherit the caller's Spark local properties (job group, scheduler
    * pool). Width 1 runs the tasks inline, in order. */
  private[graft] def joinAll(width: Int)(tasks: Seq[() => Unit]): Unit =
    if (width <= 1) tasks.foreach(_())
    else {
      val failures = new ConcurrentLinkedQueue[Throwable]
      val pool = Executors.newFixedThreadPool(width)
      val calls = tasks.map { t =>
        (() => if (failures.isEmpty)
          try t() catch { case e: Throwable => failures.add(e) }): Callable[Unit]
      }
      try pool.invokeAll(calls.asJava)
      finally pool.shutdown()
      failures.asScala.toList match {
        case first :: rest => rest.foreach(first.addSuppressed); throw first
        case Nil => ()
      }
    }

  /** One sink load = feed every entity through the bound [[LoadSink]]
    * (S9+S10 idempotency is the sink's contract — the parquet binding
    * overwrites `warehouse/<sink>/<entity>`). The entities load
    * concurrently, `min(entities, defaultParallelism)` wide: each load
    * is a small job that leaves most cores idle, so serial loads spend
    * the cycle waiting on job scheduling, not on data. */
  private def runSink(spark: SparkSession, bucket: String,
                      params: IngestParams, sink: LoadSink,
                      entityNames: Seq[String]): Unit =
    joinAll(math.min(entityNames.size, spark.sparkContext.defaultParallelism))(
      entityNames.map { e => () =>
        sink.writeEntity(e, loadEntity(spark, bucket, params.ingestName, e))
      })

  /** T6 rolling-update / CI-settle stage (ingestor.js:231–236, 259): after
    * a sink's load completes, the reference sleeps ONE polling interval
    * ("wait for drone to trigger a rolling update"), then polls each of
    * the sink's pods until the `build` container is ready AND its
    * `running.startedAt` is after the sink's job start
    * (checkRollingStatus, ingestor.js:180–193) — only then is the sink's
    * end time recorded. `podJsons` returns the CURRENT kubectl pod
    * documents for the sink (a scripted stale→fresh sequence in tests,
    * `kubectl get pods -o json` in production); an empty list means the
    * sink has no pods to roll (stage skipped). `maxPolls` bounds the spin
    * so a never-fresh pod surfaces as an error (T7), where the reference
    * would poll forever. */
  private[graft] def awaitRollingUpdate(
      spark: SparkSession, podJsons: () => Seq[String], jobStartSec: Long,
      settle: () => Unit, maxPolls: Int): Unit = {
    import spark.implicits._
    settle() // the fixed one-interval sleep before the first check
    var polls = 0
    var fresh = false
    while (!fresh) {
      val docs = podJsons()
      if (docs.isEmpty) return
      val stale = KubeOps.parsePods(docs.toDF("json"))
        .filter(!(col("ready") &&
          KubeOps.podFresh(col("startedAt"),
            timestamp_seconds(lit(jobStartSec)))))
      fresh = stale.isEmpty
      if (!fresh) {
        polls += 1
        if (polls >= maxPolls)
          throw new IllegalStateException(
            s"rolling update did not settle after $maxPolls polls")
        settle()
      }
    }
  }

  /** T5: THE core scheduling semantic — bulk runs both sinks in parallel
    * (async.parallel, ingestor.js:272–281); delta runs neo4j strictly
    * before elastic (async.eachSeries, ingestor.js:283–287): every neo4j
    * entity write ends before any elastic write starts. Both parallel
    * paths (the two bulk sinks, and a sink's entities in [[runSink]])
    * are join-all ([[joinAll]]): a failed sink surfaces only after
    * every started write has finished. Each sink
    * finishes with the T6 rolling-update stage before its end time is
    * recorded (runJob's waterfall, ingestor.js:224–246). */
  def runSinks(spark: SparkSession, bucket: String, warehouse: String,
               params: IngestParams, entityNames: Seq[String],
               times: Times, clock: () => Long = () => System.currentTimeMillis / 1000,
               onSinkEvent: (String, String) => Unit = (_, _) => (),
               podsFor: String => Seq[String] = _ => Nil,
               settle: () => Unit = () => (),
               maxPolls: Int = 10000,
               sinks: Option[Sinks] = None): Unit = {
    val bound = sinks.getOrElse(Sinks.parquet(spark, warehouse))
    def neo(): Unit = {
      times.neoStart = Some(clock()); onSinkEvent("neo4j", "start")
      runSink(spark, bucket, params, bound.load("neo4j"), entityNames)
      awaitRollingUpdate(spark, () => podsFor("neo4j"), times.neoStart.get, settle, maxPolls)
      times.neoEnd = Some(clock()); onSinkEvent("neo4j", "end")
    }
    def elastic(): Unit = {
      times.elasticStart = Some(clock()); onSinkEvent("elastic", "start")
      runSink(spark, bucket, params, bound.load("elastic"), entityNames)
      awaitRollingUpdate(spark, () => podsFor("elastic"), times.elasticStart.get, settle, maxPolls)
      times.elasticEnd = Some(clock()); onSinkEvent("elastic", "end")
    }
    if (params.ingestType == "bulk") joinAll(2)(Seq(() => neo(), () => elastic()))
    else {                          // incremental/delta: strictly serial
      neo()
      elastic()
    }
  }

  /** T4: exactly-once consumption — delete the ingest folder's objects
    * after a successful load + metrics write (ingestor.js:312–320). */
  def cleanup(spark: SparkSession, bucket: String, ingestName: String): Unit = {
    val filesystem = fs(spark, bucket)
    filesystem.delete(new Path(s"$bucket/pending/$ingestName"), true)
  }

  /** The full batch cycle: returns the metrics row if an ingest ran, None
    * if the pipeline is in a wait state (empty bucket / no marker folder /
    * manifest not yet arrived). Any stage error propagates — the Spark
    * analogue of enterErrorState is a failed job, not a silent spin (T7).
    * Unlike [[pollForIngest]], the cycle asks no separate empty-bucket
    * or timestamp-folder question: [[oldestPending]] already answers
    * None for both. */
  def processPendingOnce(spark: SparkSession, bucket: String, warehouse: String,
                         clock: () => Long = () => System.currentTimeMillis / 1000,
                         onSinkEvent: (String, String) => Unit = (_, _) => (),
                         podsFor: String => Seq[String] = _ => Nil,
                         settle: () => Unit = () => (),
                         sinks: Option[Sinks] = None)
      : Option[IngestMetrics] = {
    import spark.implicits._
    val bound = sinks.getOrElse(Sinks.parquet(spark, warehouse))
    val listing = listKeys(spark, bucket)
    val params = oldestPending(listing) match {
      case None => return None
      case Some(p) => p
    }
    if (!manifestPresent(listing, params.ingestName)) return None

    val times = new Times
    val startSec = clock()
    val entityNames = entities(listing, params.ingestName)
    runSinks(spark, bucket, warehouse, params, entityNames, times, clock,
      onSinkEvent, podsFor, settle, sinks = Some(bound))

    val endSec = clock()
    val loadDate = new java.sql.Timestamp(endSec * 1000L)
    val metrics = IngestMetrics(
      ingest = params.ingestName,
      `type` = params.ingestType,
      load_date = loadDate,
      readable_date = {
        val df = spark.createDataset(Seq(loadDate)).toDF("ts")
          .select(TimeOps.readableDate(col("ts"))).collect()
        df.head.getString(0)
      },
      neo_job_duration = formatDuration(times.neoStart, times.neoEnd),
      elastic_job_duration = formatDuration(times.elasticStart, times.elasticEnd),
      total_job_duration = formatDuration(Some(startSec), Some(endSec)))

    // S8: metrics sink (mongo in the reference — mongodb.js:30–38;
    // the bound MetricsSink, parquet by default)
    bound.metrics.append(metrics)

    // commit: delete consumed folder (T4), reset session state (T8)
    if (times.isComplete) {
      cleanup(spark, bucket, params.ingestName)
      times.reset()
    }
    Some(metrics)
  }
}
