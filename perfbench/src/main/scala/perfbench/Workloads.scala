package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import org.json4s._

import graft.SparkEntry
import graft.ingest.{IngestPipeline, LoadSink, MetricsSink, Sinks}

/** Face serving. Each operation is one registered face: build its
  * DataFrame through `SparkEntry.queries` and collect every row, which is
  * what a caller gets. `cold` releases the session caches before every
  * operation (outside the timed window), so each call pays its whole
  * build chain; otherwise the caches are filled once during set-up.
  *
  * Every result is checked outside the timed window: the first result of
  * a face is kept (and written out for the DuckDB oracle check), and each
  * later result must be identical to it. */
final class FaceWorkload(spark: SparkSession, plan: JValue, cold: Boolean)
    extends Workload {
  private implicit val formats: Formats = DefaultFormats
  private val dir = (plan \ "face_dir").extract[String]
  private val passes = (plan \ "passes").extract[Seq[Seq[String]]]
  private val families = (plan \ "families").extract[Map[String, String]]
  private val warmupPasses = (plan \ "warmup_passes").extract[Int]
  private val outDir = (plan \ "work_dir").extract[String] + "/faces"
  private val clock = new OpClock(spark)
  private val faces = SparkEntry.queries
  private val refs = mutable.LinkedHashMap.empty[String, (Array[Row], StructType, String)]
  private val errors = mutable.ArrayBuffer.empty[String]

  private def serve(t: Option[Tracer], name: String): (Array[Row], StructType) = {
    val df = Tracer.spanOrRun(t, "registry.construct")(faces(name)(spark, dir))
    val rows = Tracer.spanOrRun(t, "registry.execute")(df.collect())
    (rows, df.schema)
  }

  /** None if `rows` equal the face's first result (which it becomes when
    * there is none yet). */
  private def check(name: String, rows: Array[Row], schema: StructType): Option[String] = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.toString).sorted.foreach { l => md.update(l.getBytes(UTF_8)); md.update('\n'.toByte) }
    val digest = md.digest().map("%02x".format(_)).mkString
    refs.get(name) match {
      case None => refs(name) = (rows, schema, digest); None
      case Some((_, _, d)) if d == digest => None
      case Some(_) => Some(s"$name: result differs from its first result")
    }
  }

  /** faces_warm: the cache-fill pass, then `warmupPasses` more untimed
    * passes; faces_cold: one scan of every table, then `warmupPasses`
    * passes of releases and rebuilds. */
  def setup(): Unit = {
    if (cold) Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { t =>
      spark.read.parquet(s"$dir/$t.parquet").write.format("noop").mode("overwrite").save()
    }
    val untimed = if (cold) warmupPasses else 1 + warmupPasses
    for (_ <- 0 until untimed; name <- passes.head) {
      if (cold) release()
      try {
        val (rows, schema) = serve(None, name)
        errors ++= check(name, rows, schema)
      } catch { case NonFatal(e) => errors += s"$name (set-up): $e" }
    }
  }

  /** Every pass of the plan, each in its own seeded order. */
  def run(tracer: Option[Tracer]): (Seq[OpResult], Int) = {
    val ops = passes.flatten.zipWithIndex.flatMap { case (name, i) =>
      Harness.twins(tracer, i)(op(None, "timed", name), t => op(Some(t), "traced", name))
    }
    (ops, passes.size)
  }

  private def op(tracer: Option[Tracer], phase: String, name: String): OpResult = {
    if (cold) release()
    val (r, latency, buildS, builds) = clock(tracer, s"op:$name")(serve(tracer, name))
    val (err, rows) = r match {
      case Right((rows, schema)) => (check(name, rows, schema), rows.length.toLong)
      case Left(e) => (Some(s"$name: $e"), 0L)
    }
    OpResult(phase, name, families(name), latency, err.isEmpty,
      err.getOrElse(""), rows, buildS, builds, clock.cache(), warm = !cold)
  }

  /** Writes each face's first result for the oracle check. */
  def finish(out: mutable.Map[String, Any]): Seq[String] = {
    val written = refs.map { case (name, (rows, schema, _)) =>
      val path = s"$outDir/$name"
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(path)
      name -> path
    }
    out("faces") = written.toMap
    out("oracle_sql") = SparkEntry.oracleSql.filter { case (k, _) => refs.contains(k) }
    errors.toSeq
  }
}

/** The reference's control loop draining a staged backlog. Each operation
  * is one `IngestPipeline.processPendingOnce` call with the default
  * parquet sinks, a scripted `podsFor` (some stale pod documents, then a
  * fresh one, per sink) and a no-op `settle`. After each cycle, outside
  * the timed window, the harness checks that both sinks hold exactly the
  * folder's rows, that one metrics row of the right type was appended,
  * that the oldest folder was consumed and removed, and that each sink
  * was polled until its pod was fresh. After the drain, one more call
  * must find nothing to do. */
final class IngestWorkload(spark: SparkSession, plan: JValue)
    extends Workload {
  import IngestWorkload._
  private implicit val formats: Formats = DefaultFormats
  private val backlogs = (plan \ "ingest").extract[Map[String, Backlog]]
  private val clock = new OpClock(spark)

  private var warmup = Seq.empty[OpResult]

  def setup(): Unit = {
    val b = backlogs("warmup")
    warmup = b.folders.indices.map(cycle(b, _, None, "warmup", check = false)) :+
      idlePoll(b, None, "warmup")
    warmup.filterNot(_.ok).foreach(o => throw new IllegalStateException(o.error))
  }

  /** Drains the timed backlog; traced, each cycle is followed by its twin
    * on an identical copy of the backlog. */
  def run(tracer: Option[Tracer]): (Seq[OpResult], Int) = {
    val timed = backlogs("timed")
    val twin = backlogs.get("traced")
    val ops = timed.folders.indices.flatMap { i =>
      Harness.twins(tracer, i)(cycle(timed, i, None, "timed", check = true),
        t => cycle(twin.get, i, Some(t), "traced", check = true))
    } ++ Harness.twins(tracer, 0)(idlePoll(timed, None, "timed"),
      t => idlePoll(twin.get, Some(t), "traced"))
    (ops, 1)
  }

  /** Records the warm-up cycles' latencies: the drift they show is why
    * the set-up drains a warm-up backlog first. */
  def finish(out: mutable.Map[String, Any]): Seq[String] = {
    out("warmup_latency_s") = warmup.map(_.latency)
    Nil
  }

  private def cycle(b: Backlog, i: Int, tracer: Option[Tracer], phase: String,
                    check: Boolean): OpResult = {
    val f = b.folders(i)
    val script = b.pods(i)
    val polls = mutable.Map.empty[String, Int].withDefaultValue(0)
    val podsFor = (sink: String) => polls.synchronized {
      polls(sink) += 1
      if (polls(sink) <= script.getOrElse(sink, 0)) Seq(StalePod) else Seq(FreshPod)
    }
    val onSinkEvent: (String, String) => Unit = tracer match {
      case Some(t) => (sink, event) => t.mark(s"$sink.$event")
      case None => (_, _) => ()
    }
    val (r, latency, buildS, builds) = clock(tracer, s"op:${f.`type`}") {
      IngestPipeline.processPendingOnce(spark, b.bucket, b.warehouse,
        onSinkEvent = onSinkEvent, podsFor = podsFor, settle = () => (),
        sinks = tracer.map(tracedSinks(_, b.warehouse)))
    }
    val err = r match {
      case Left(e) => Some(s"${f.name}: $e")
      case Right(None) => Some(s"${f.name}: the cycle found no ingest")
      case Right(Some(m)) if check => verify(b, f, m, polls.toMap, script)
      case Right(Some(_)) => None
    }
    OpResult(phase, f.`type`, "ingest", latency, err.isEmpty, err.getOrElse(""),
      f.rows.toLong * f.entities.size, buildS, builds, clock.cache(),
      warm = false, rolloutPolls = polls.values.sum)
  }

  /** One more call on the drained bucket: it must find nothing to do. */
  private def idlePoll(b: Backlog, tracer: Option[Tracer], phase: String): OpResult = {
    val (r, latency, buildS, builds) = clock(tracer, "op:idle_poll") {
      IngestPipeline.processPendingOnce(spark, b.bucket, b.warehouse,
        sinks = tracer.map(tracedSinks(_, b.warehouse)))
    }
    val pending = Option(Paths.get(b.bucket, "pending").toFile.list()).getOrElse(Array.empty)
    val err = r match {
      case Left(e) => Some(s"idle poll: $e")
      case Right(Some(m)) => Some(s"idle poll ran ingest ${m.ingest}")
      case Right(None) if pending.nonEmpty =>
        Some(s"pending/ is not empty after the drain: ${pending.mkString(", ")}")
      case Right(None) => None
    }
    OpResult(phase, "idle_poll", "ingest", latency, err.isEmpty,
      err.getOrElse(""), 0L, buildS, builds, clock.cache(), warm = false)
  }

  private def verify(b: Backlog, f: Folder, m: IngestPipeline.IngestMetrics,
                     polls: Map[String, Int], script: Map[String, Int]): Option[String] = {
    val problems = mutable.ArrayBuffer.empty[String]
    if (m.ingest != f.name || m.`type` != f.`type`)
      problems += s"consumed ${m.ingest} (${m.`type`}), expected the oldest ${f.name} (${f.`type`})"
    SinkNames.foreach { sink =>
      if (polls.getOrElse(sink, 0) != script.getOrElse(sink, 0) + 1)
        problems += s"$sink pods polled ${polls.getOrElse(sink, 0)} times"
    }
    // one job: row count and checksum of every (sink, entity) table
    val tables = for (sink <- SinkNames; entity <- f.entities.keys.toSeq.sorted) yield {
      val df = spark.read.parquet(s"${b.warehouse}/$sink/$entity")
      df.select(lit(s"$sink/$entity").as("table"),
        conv(substring(sha2(concat_ws(",", df.columns.toSeq.map(col): _*), 256), 1, 10), 16, 10)
          .cast("long").as("digest"))
    }
    val got = tables.reduce(_ union _).groupBy("table")
      .agg(count(lit(1)), sum("digest")).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    for (sink <- SinkNames; (entity, Seq(n, digest)) <- f.entities) {
      val (rows, sum) = got.getOrElse(s"$sink/$entity", (0L, 0L))
      if (rows != n || sum != digest)
        problems += s"$sink/$entity holds $rows rows (checksum $sum), expected $n ($digest)"
    }
    val types = spark.read.parquet(s"${b.warehouse}/es_load_dates")
      .filter(col("ingest") === f.name).select("type").collect().map(_.getString(0))
    if (!types.sameElements(Seq(f.`type`)))
      problems += s"metrics rows for ${f.name}: ${types.mkString(",")}"
    if (Files.exists(Paths.get(b.bucket, "pending", f.name)))
      problems += s"pending/${f.name} was not removed"
    if (problems.isEmpty) None else Some(s"${f.name}: ${problems.mkString("; ")}")
  }

  /** The default parquet sinks, each call wrapped in a span. */
  private def tracedSinks(t: Tracer, warehouse: String): Sinks = {
    val base = Sinks.parquet(spark, warehouse)
    Sinks(
      load = sinkName => {
        val inner = base.load(sinkName)
        new LoadSink {
          val name: String = inner.name
          def writeEntity(entity: String, df: DataFrame): Unit =
            t.span(s"sinks.write.$name")(inner.writeEntity(entity, df))
        }
      },
      metrics = new MetricsSink {
        def append(m: IngestPipeline.IngestMetrics): Unit =
          t.span("sinks.metrics_append")(base.metrics.append(m))
      })
  }
}

object IngestWorkload {
  final case class Folder(name: String, `type`: String, rows: Int,
      entities: Map[String, Seq[Long]])
  final case class Backlog(bucket: String, warehouse: String,
      folders: Seq[Folder], pods: Seq[Map[String, Int]])

  val SinkNames = Seq("neo4j", "elastic")
  private def pod(startedAt: String) =
    s"""{"status":{"containerStatuses":[{"name":"build","ready":true,""" +
      s""""restartCount":0,"state":{"running":{"startedAt":"$startedAt"}}}]}}"""
  /** Started before any job of the run: the rollout has not happened. */
  val StalePod: String = pod("2018-09-01T00:00:00Z")
  /** Started after every job of the run: the rollout is done. */
  val FreshPod: String = pod("2100-01-01T00:00:00Z")
}
