package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.duration._

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.ingest.{IngestPipeline, LoadSink, MetricsSink, Sinks}

/** Scripted-sequence tests for the ingest dataflow T2–T5, mirroring the
  * reference's mock-sequenced loop tests (ingestor.spec.js): manifest
  * gating, oldest-first consumption, bulk-parallel / delta-serial sink
  * ordering, exactly-once cleanup, metrics golden shape. */
class IngestPipelineSpec extends SparkSuite {

  import IngestFixtures.{makeIngest, writeGz, writeManifest}

  test("wait states: empty bucket, no marker, missing manifest all return None") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    // empty
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
    // folder without marker file
    writeGz(s"$bucket/pending/1538055240/person/person_headers.csv.gz", "a,b\n")
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
    // marker but no manifest yet (T3 gate)
    makeIngest(bucket, "1538055241", "bulk", withManifest = false)
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
    // manifest arrives ⇒ processes
    writeManifest(bucket, "1538055241")
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh)
    assert(m.isDefined)
    assert(m.get.ingest == "1538055241")
  }

  test("T2: always consumes the OLDEST pending folder first") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "2222", "bulk")
    makeIngest(bucket, "1111", "incremental")
    makeIngest(bucket, "3333", "incremental")
    val first = IngestPipeline.processPendingOnce(spark, bucket, wh)
    assert(first.get.ingest == "1111")
    assert(first.get.`type` == "incremental")
    val second = IngestPipeline.processPendingOnce(spark, bucket, wh)
    assert(second.get.ingest == "2222")
    assert(second.get.`type` == "bulk")
  }

  test("T4: consumed folder is deleted; reprocessing moves on (exactly-once)") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk")
    IngestPipeline.processPendingOnce(spark, bucket, wh)
    assert(!Files.exists(Paths.get(s"$bucket/pending/1538055240")))
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh).isEmpty)
  }

  test("T5: delta runs neo4j strictly before elastic; bulk overlaps") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "incremental")
    val events = mutable.ArrayBuffer.empty[(String, String)]
    IngestPipeline.processPendingOnce(spark, bucket, wh,
      onSinkEvent = (sink, ev) => events.synchronized { events += (sink -> ev) })
    assert(events.toSeq == Seq(
      "neo4j" -> "start", "neo4j" -> "end",
      "elastic" -> "start", "elastic" -> "end"),
      s"delta must serialize neo4j before elastic, got $events")

    makeIngest(bucket, "1538055250", "bulk")
    val bulkEvents = mutable.ArrayBuffer.empty[(String, String)]
    IngestPipeline.processPendingOnce(spark, bucket, wh,
      onSinkEvent = (sink, ev) => bulkEvents.synchronized { bulkEvents += (sink -> ev) })
    // both sinks started before either finished is not guaranteed on a
    // busy machine, but both must appear and both must complete
    assert(bulkEvents.count(_._2 == "start") == 2)
    assert(bulkEvents.count(_._2 == "end") == 2)
  }

  test("sink seam: custom bindings receive loads + metrics, T5 order intact") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "incremental")
    val calls = mutable.ArrayBuffer.empty[(String, String, Long)]
    val metricsSeen = mutable.ArrayBuffer.empty[IngestPipeline.IngestMetrics]
    final class Rec(val name: String) extends graft.ingest.LoadSink {
      def writeEntity(entity: String, df: org.apache.spark.sql.DataFrame): Unit =
        calls.synchronized { calls += ((name, entity, df.count())) }
    }
    val binding = graft.ingest.Sinks(
      load = n => new Rec(n),
      metrics = m => metricsSeen.synchronized { metricsSeen += m })
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh,
      sinks = Some(binding))
    assert(m.isDefined)
    // delta ⇒ neo4j's entity load strictly precedes elastic's (T5 holds
    // THROUGH the seam), and each sink saw the 3 loaded rows
    assert(calls.toSeq == Seq(("neo4j", "person", 3L), ("elastic", "person", 3L)),
      s"seam calls: $calls")
    // metrics went through the bound MetricsSink, not the parquet table,
    // and the default warehouse saw no writes at all
    assert(metricsSeen.map(_.ingest).toSeq == Seq("1538055240"))
    assert(!Files.exists(Paths.get(s"$wh/es_load_dates")))
    assert(!Files.exists(Paths.get(s"$wh/neo4j")))
  }

  test("sinks receive the CSV.gz data; metrics row has the golden shape") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk")
    var t = 1538050000L
    val clock = () => { t += 4050; t }   // each stage advances 4050s
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh, clock).get
    // both sinks materialized the person entity with schema from sidecar
    Seq("neo4j", "elastic").foreach { sink =>
      val df = spark.read.parquet(s"$wh/$sink/person")
      assert(df.columns.toSeq == Seq("person_id", "name", "age"))
      assert(df.count() == 3)
    }
    assert(m.`type` == "bulk")
    assert(m.neo_job_duration.matches("\\d+h:\\d{2}mins"))
    assert(m.total_job_duration.matches("\\d+h:\\d{2}mins"))
    // metrics row persisted to the warehouse metrics table (S8)
    val metrics = spark.read.parquet(s"$wh/es_load_dates")
    assert(metrics.count() == 1)
    assert(metrics.columns.toSet == Set("ingest", "type", "load_date",
      "readable_date", "neo_job_duration", "elastic_job_duration",
      "total_job_duration"))
  }

  private val threeEntities = Seq("person", "vehicle", "address")
  private val InSink = "graft.spec.inSink"

  /** Wraps the parquet sinks and records every `writeEntity` as
    * (sink, entity, start tick, end tick) on one shared tick counter.
    * A write waits (up to 10 s) until a second write of its sink is in
    * flight, so concurrent entity loads are observed deterministically
    * and serial ones read as a peak of 1. Writes and metrics appends run
    * under the local property [[InSink]], so a listener can tell their
    * jobs from the cycle's control jobs. */
  private final class RecordingSinks(warehouse: String) {
    private val tick = new AtomicLong
    private val inFlight = mutable.Map.empty[String, Int].withDefaultValue(0)
    val peak: mutable.Map[String, Int] = mutable.Map.empty[String, Int].withDefaultValue(0)
    val calls = mutable.ArrayBuffer.empty[(String, String, Long, Long)]
    private val base = Sinks.parquet(spark, warehouse)

    private def marked[T](body: => T): T = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(InSink)
      sc.setLocalProperty(InSink, "true")
      try body finally sc.setLocalProperty(InSink, prev)
    }

    val sinks: Sinks = Sinks(
      load = n => new LoadSink {
        val name: String = n
        def writeEntity(entity: String, df: DataFrame): Unit = {
          val start = RecordingSinks.this.synchronized {
            inFlight(n) += 1
            peak(n) = math.max(peak(n), inFlight(n))
            RecordingSinks.this.notifyAll()
            val deadline = System.nanoTime() + 10.seconds.toNanos
            while (peak(n) < 2 && System.nanoTime() < deadline)
              RecordingSinks.this.wait(100)
            tick.incrementAndGet()
          }
          try marked(base.load(n).writeEntity(entity, df))
          finally RecordingSinks.this.synchronized {
            inFlight(n) -= 1
            calls += ((n, entity, start, tick.incrementAndGet()))
          }
        }
      },
      metrics = m => marked(base.metrics.append(m)))
  }

  test("delta: a sink's entity writes overlap, every neo4j write ends before " +
       "any elastic write starts, and one control job runs outside the writes") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "incremental", entities = threeEntities)
    val rec = new RecordingSinks(wh)
    val sc = spark.sparkContext
    val controlJobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (e.properties == null || e.properties.getProperty(InSink) == null)
          controlJobs.incrementAndGet()
    }
    ListenerBusDrain(sc)
    sc.addSparkListener(listener)
    val m = try IngestPipeline.processPendingOnce(spark, bucket, wh,
      sinks = Some(rec.sinks))
    finally { ListenerBusDrain(sc); sc.removeSparkListener(listener) }
    assert(m.map(_.`type`).contains("incremental"))

    assert(rec.peak("neo4j") >= 2 && rec.peak("elastic") >= 2,
      s"entity writes of one sink never overlapped: ${rec.peak}")
    val (neo, elastic) = rec.calls.partition(_._1 == "neo4j")
    assert(neo.map(_._2).sorted == threeEntities.sorted)
    assert(elastic.map(_._2).sorted == threeEntities.sorted)
    assert(neo.map(_._4).max < elastic.map(_._3).min,
      s"delta must finish every neo4j write before elastic starts: ${rec.calls}")
    // the oldest-pending pick is the cycle's one control job; the
    // empty-bucket, timestamp-folder, file-list and entity questions
    // are answered without a job
    assert(controlJobs.get <= 1, s"${controlJobs.get} control jobs in a delta cycle")
  }

  test("bulk: every (sink, entity) lands exactly once") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk", entities = threeEntities)
    val rec = new RecordingSinks(wh)
    assert(IngestPipeline.processPendingOnce(spark, bucket, wh,
      sinks = Some(rec.sinks)).isDefined)
    val expected = for (s <- Seq("elastic", "neo4j"); e <- threeEntities.sorted)
      yield (s, e)
    assert(rec.calls.map(c => (c._1, c._2)).sorted == expected, rec.calls)
    expected.foreach { case (s, e) =>
      val df = spark.read.parquet(s"$wh/$s/$e")
      assert(df.columns.toSeq == Seq(s"${e}_id", "name", "age"))
      assert(df.count() == 3, s"$s/$e")
    }
    assert(!Files.exists(Paths.get(s"$bucket/pending/1538055240")))
  }

  test("bulk is join-all: a failing sink surfaces only after the other " +
       "sink's write finishes, with no metrics row and no cleanup") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk")
    val neoFailed = new CountDownLatch(1)
    val elasticStarted = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    @volatile var elasticDone = false
    val appended = new AtomicInteger
    val binding = Sinks(
      load = {
        case "neo4j" => new LoadSink {
          val name = "neo4j"
          def writeEntity(entity: String, df: DataFrame): Unit = {
            neoFailed.countDown()
            throw new IllegalStateException("neo4j load failed")
          }
        }
        case other => new LoadSink {
          val name: String = other
          def writeEntity(entity: String, df: DataFrame): Unit = {
            elasticStarted.countDown()
            release.await(30, TimeUnit.SECONDS)
            elasticDone = true
          }
        }
      },
      metrics = new MetricsSink {
        def append(m: IngestPipeline.IngestMetrics): Unit = appended.incrementAndGet()
      })
    import scala.concurrent.ExecutionContext.Implicits.global
    val cycle = Future(IngestPipeline.processPendingOnce(spark, bucket, wh,
      sinks = Some(binding)))
    try {
      assert(neoFailed.await(30, TimeUnit.SECONDS))
      assert(elasticStarted.await(30, TimeUnit.SECONDS))
      Thread.sleep(500)
      assert(!cycle.isCompleted,
        "the cycle returned while the elastic write was still running")
    } finally release.countDown()
    val e = intercept[IllegalStateException](Await.result(cycle, 60.seconds))
    assert(e.getMessage == "neo4j load failed")
    assert(elasticDone)
    assert(appended.get == 0, "a failed cycle appended a metrics row")
    assert(Files.exists(Paths.get(s"$bucket/pending/1538055240")),
      "a failed cycle deleted its folder")
  }

  test("joinAll rethrows the first failure with the later ones suppressed") {
    val bStarted = new CountDownLatch(1)
    val e = intercept[IllegalStateException] {
      IngestPipeline.joinAll(2)(Seq(
        () => { bStarted.await(30, TimeUnit.SECONDS); throw new IllegalStateException("a") },
        () => { bStarted.countDown(); Thread.sleep(200); throw new IllegalArgumentException("b") }))
    }
    assert(e.getMessage == "a")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("b"))
  }

  private def podJson(ready: Boolean, startedAtIso: String) =
    s"""{"status":{"containerStatuses":[{"name":"build","ready":$ready,
       |"restartCount":0,"state":{"running":{"startedAt":"$startedAtIso"}}}]}}"""
      .stripMargin.replace("\n", "")

  test("T6: sink end times wait on the rolling update — stale pods poll until fresh") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "incremental")
    var t = 1538050000L              // ≈ 2018-09-27; job starts shortly after
    val clock = () => { t += 100; t }
    val stale = podJson(ready = true, "2018-09-01T00:00:00Z")  // before job start
    val fresh = podJson(ready = true, "2018-12-01T00:00:00Z")  // after job start
    val polls = mutable.Map("neo4j" -> 0, "elastic" -> 0)
    var settles = 0
    val m = IngestPipeline.processPendingOnce(spark, bucket, wh, clock,
      podsFor = sink => {
        polls(sink) += 1
        if (polls(sink) <= 2) Seq(stale) else Seq(fresh)
      },
      settle = () => settles += 1).get
    // each sink kept polling through the 2 scripted stale states and
    // completed on the fresh one (checkRollingStatus, ingestor.js:180–193)
    assert(polls("neo4j") == 3 && polls("elastic") == 3, polls)
    // the one-interval settle ran before the first check and between
    // retries: 1 + 2 per sink (ingestor.js:259)
    assert(settles == 6, s"settles=$settles")
    assert(m.neo_job_duration.matches("\\d+h:\\d{2}mins"))
  }

  test("T6: a ready-but-never-rolled pod errors out instead of spinning forever") {
    val stale = podJson(ready = true, "2018-09-01T00:00:00Z")
    intercept[IllegalStateException] {
      IngestPipeline.awaitRollingUpdate(spark, () => Seq(stale),
        jobStartSec = 1538050000L, settle = () => (), maxPolls = 3)
    }
    // fresh startedAt but container not ready also keeps polling (both
    // conditions gate, ingestor.js:188–191)
    val notReady = podJson(ready = false, "2018-12-01T00:00:00Z")
    intercept[IllegalStateException] {
      IngestPipeline.awaitRollingUpdate(spark, () => Seq(notReady),
        jobStartSec = 1538050000L, settle = () => (), maxPolls = 3)
    }
    // no pods ⇒ stage is a no-op
    IngestPipeline.awaitRollingUpdate(spark, () => Nil,
      jobStartSec = 1538050000L, settle = () => (), maxPolls = 1)
  }

  test("checksum verification flags the tampered file (F10/J3)") {
    val bucket = tmpDir("graft-bucket")
    makeIngest(bucket, "1538055240", "bulk", withManifest = false)
    // compute the real sha256 of the headers file; declare a wrong one
    // for the sample file
    val headerBytes = Files.readAllBytes(
      Paths.get(s"$bucket/pending/1538055240/person/person_headers.csv.gz"))
    val realSha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(headerBytes).map("%02x".format(_)).mkString
    Files.writeString(Paths.get(s"$bucket/pending/1538055240/manifest.json"),
      s"""{"FileName": "person_headers.csv.gz", "SHA256": "$realSha"}
         |{"FileName": "person_sample.csv.gz", "SHA256": "deadbeef"}
         |{"FileName": "ghost.csv.gz", "SHA256": "00"}""".stripMargin)
    val rows = IngestPipeline.verifyChecksums(spark, bucket, "1538055240")
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    assert(rows("person_headers.csv.gz"))     // matches
    assert(!rows("person_sample.csv.gz"))     // tampered
    assert(!rows("ghost.csv.gz"))             // declared but absent
  }

  test("T7: a corrupt data file fails the cycle loudly (no silent spin)") {
    val bucket = tmpDir("graft-bucket")
    val wh = tmpDir("graft-wh")
    makeIngest(bucket, "1538055240", "bulk")
    // overwrite the gzip with non-gzip bytes under the .gz name
    Files.write(
      Paths.get(s"$bucket/pending/1538055240/person/person_headers.csv.gz"),
      "this is not gzip".getBytes("UTF-8"))
    intercept[Exception] {
      IngestPipeline.processPendingOnce(spark, bucket, wh)
    }
    // folder NOT deleted — at-least-once: the ingest replays after a fix
    assert(Files.exists(Paths.get(s"$bucket/pending/1538055240")))
  }

  test("distributed listing face equals the driver-side listing") {
    val bucket = tmpDir("graft-bucket")
    makeIngest(bucket, "1538055240", "bulk")
    makeIngest(bucket, "1538055250", "incremental")
    val driverSide = IngestPipeline.listKeys(spark, bucket)
      .collect().map(_.getString(0)).toSet
    val distributed = IngestPipeline.listKeysDistributed(spark, bucket)
      .collect().map(_.getString(0)).toSet
    assert(distributed == driverSide, s"diff: ${distributed.diff(driverSide)} / ${driverSide.diff(distributed)}")
    // and it feeds the same control decision
    assert(IngestPipeline.oldestPending(
      IngestPipeline.listKeysDistributed(spark, bucket)).get.ingestName == "1538055240")
    // empty bucket ⇒ empty frame, same as the driver face
    assert(IngestPipeline.listKeysDistributed(spark, tmpDir("graft-empty")).isEmpty)
  }

  test("manifest reconciliation reports undeclared and missing files") {
    val bucket = tmpDir("graft-bucket")
    makeIngest(bucket, "1538055240", "bulk")
    writeGz(s"$bucket/pending/1538055240/person/person_extra.csv.gz", "x\n")
    val listing = IngestPipeline.listKeys(spark, bucket)
    val (undeclared, missing) =
      IngestPipeline.reconcile(spark, listing, bucket, "1538055240")
    assert(undeclared.contains("person_extra.csv.gz"))
    assert(missing.isEmpty)
  }

  /** A listing DataFrame from literal keys — the Spark face of the
    * reference's `s3_samples` fixtures (__mocks__/s3-client.js:3–92). */
  private def listingOf(keys: String*): org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    keys.toSeq.toDF("key")
  }

  test("start loop keeps polling through error, empty, no-ts-folders and " +
       "invalid-folder listings — 6 polls to the first valid ingest " +
       "(s3-client.spec.js:8–14 / __mocks__/s3-client.js:95–101)") {
    // the jest ts_folders mock sequence, state for state:
    val script = Iterator[() => org.apache.spark.sql.DataFrame](
      () => throw new RuntimeException("aws error"), // poll 1: error
      () => listingOf(),                             // poll 2: empty
      () => listingOf(),                             // poll 3: empty
      () => listingOf(                               // poll 4: no ts folders
        "pending/.DS_Store", "pending/manifest.json"),
      () => listingOf(                               // poll 5: bad folders
        "pending/.DS_Store",                         //   (ts folder, no
        "pending/1538055240/person/person_headers.csv.gz"), // marker file)
      () => listingOf(                               // poll 6: valid
        "pending/.DS_Store", "pending/manifest.json",
        "pending/1538055240/person/person_headers.csv.gz",
        "pending/1538055240/bulk.txt",
        "pending/1538055240/manifest.json",
        "pending/1538055250/person/person_headers.csv.gz",
        "pending/1538055250/person/person_sample.csv.gz"))
    val (params, polls) = IngestPipeline.pollForIngest(() => script.next()())
    assert(params.ingestName == "1538055240")
    assert(params.ingestType == "bulk")
    assert(polls == 6) // expect(s3.listObjectsV2.mock.calls.length).toBe(6)
  }

  test("waitForManifest polls until the commit marker appears — 4 polls " +
       "(ingestor.js:109–118 / __mocks__/s3-client.js:103–107)") {
    val withManifest = listingOf(
      "pending/1538055240/person/person_headers.csv.gz",
      "pending/1538055240/bulk.txt",
      "pending/1538055240/manifest.json")
    val script = Iterator[() => org.apache.spark.sql.DataFrame](
      () => listingOf(),                             // poll 1: empty
      () => listingOf(                               // poll 2: no ts folders
        "pending/.DS_Store", "pending/manifest.json"),
      () => listingOf(                               // poll 3: no manifest yet
        "pending/1538055240/person/person_headers.csv.gz",
        "pending/1538055240/bulk.txt",
        "pending/1538055250/person/person_headers.csv.gz",
        "pending/1538055250/person/person_sample.csv.gz"),
      () => withManifest)                            // poll 4: manifest
    val polls =
      IngestPipeline.pollForManifest(() => script.next()(), "1538055240")
    assert(polls == 4) // the jest manifest_folders sequence length
  }

  // kubectl status fixtures, verbatim shapes from helpers.spec.js:18–110
  private val completeJob =
    """{"status": {"startTime": "2016-09-22T13:56:42Z",
      |            "completionTime": "2016-09-22T13:59:03Z",
      |            "succeeded": 1}}""".stripMargin
  private val runningJob =
    """{"status": {"startTime": "2016-09-22T13:56:42Z", "active": 1}}"""
  private val podBuildReady =
    """{"status": {"containerStatuses": [
      |  {"name": "build", "ready": true, "restartCount": 0,
      |   "state": {"running": {"startedAt": "2018-10-09T10:10:00Z"}}}]}}"""
      .stripMargin
  private val podBuildNotReady =
    """{"status": {"containerStatuses": [
      |  {"name": "build", "ready": false, "restartCount": 0,
      |   "state": {"running": {"startedAt": "2018-10-09T10:10:00Z"}}}]}}"""
      .stripMargin

  test("checkJobStatus polls through error, empty stdout and a running job " +
       "— 4 polls to completion (ingestor.spec.js 'wait for a job to " +
       "finish' / __mocks__/child_process.js:51–54)") {
    val script = Iterator[() => String](
      () => throw new RuntimeException("kubectl get jobs error"), // poll 1
      () => "",           // poll 2: empty stdout
      () => runningJob,   // poll 3: active, not succeeded
      () => completeJob)  // poll 4: succeeded = 1
    val polls = IngestPipeline.pollForJobComplete(spark, () => script.next()())
    assert(polls == 4) // expect(child_process.exec.mock.calls.length).toBe(4)
  }

  test("checkPodStatus polls through error and a not-ready build container " +
       "— 3 polls to ready (ingestor.spec.js 'wait for a pod to be in a " +
       "ready state' / __mocks__/child_process.js:45–48)") {
    val script = Iterator[() => String](
      () => throw new RuntimeException("kubectl get pods error"), // poll 1
      () => podBuildNotReady, // poll 2: build ready = false
      () => podBuildReady)    // poll 3: build ready = true (staleness is
                              //   the rolling poller's concern, not this one's)
    val polls = IngestPipeline.pollForPodReady(spark, () => script.next()())
    assert(polls == 3) // expect(child_process.exec.mock.calls.length).toBe(3)
  }
}
