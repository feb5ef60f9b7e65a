package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import org.json4s.jackson.Serialization

import graft.BuildTimers

/** One timed (or traced) operation as the client saw it. `ok` is false
  * when the call threw or its output failed the check. */
final case class OpResult(phase: String, kind: String, family: String,
    latency: Double, ok: Boolean, error: String, rows: Long,
    buildS: Double, builds: Int, cache: (Double, Int), warm: Boolean,
    rolloutPolls: Int = 0) {
  def toMap: Map[String, Any] = Map("phase" -> phase, "kind" -> kind,
    "family" -> family, "latency_s" -> latency, "ok" -> ok, "error" -> error,
    "rows" -> rows, "build_s" -> buildS, "builds" -> builds,
    "cache_mb" -> cache._1, "persisted_rdds" -> cache._2, "warm" -> warm,
    "rollout_polls" -> rolloutPolls)
}

/** A workload: set-up work, then closed-loop operations from one client
  * thread. With a tracer, every operation runs twice in a row, untraced
  * (phase "timed") and traced (phase "traced"), so the trace overhead is
  * measured on twin operations in the same JVM state. Returns the
  * operations and the number of passes over the workload's list. */
trait Workload {
  def setup(): Unit
  def run(tracer: Option[Tracer]): (Seq[OpResult], Int)
  /** Untimed checks and artifacts after the operations; returns failures. */
  def finish(out: mutable.Map[String, Any]): Seq[String]
  def release(): Unit = graft.ext.DedupOps.releaseShared()
}

/** Times one call from the client's side: wall latency, the named
  * session-cache builds it triggered, and (traced) its root span. */
final class OpClock(spark: SparkSession) {
  def apply[T](tracer: Option[Tracer], name: String)(body: => T)
      : (Either[Throwable, T], Double, Double, Int) = {
    tracer.foreach(_.start())
    val b0 = BuildTimers.snapshot()
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(Tracer.spanOrRun(tracer, name)(body))
            catch { case NonFatal(e) => Left(e) }
    val latency = (System.nanoTime() - t0) / 1e9
    val endMs = System.currentTimeMillis()
    tracer.foreach(_.endOp(startMs, endMs))
    val b1 = BuildTimers.snapshot()
    val grown = b1.filter { case (k, v) => v > b0.getOrElse(k, 0.0) }
    (r, latency, grown.map { case (k, v) => v - b0.getOrElse(k, 0.0) }.sum, grown.size)
  }

  /** Memory plus disk held by persisted and checkpointed blocks, in MB,
    * and the number of RDDs holding them. */
  def cache(): (Double, Int) = {
    val held = spark.sparkContext.getRDDStorageInfo
    (held.map(i => i.memSize + i.diskSize).sum / 1e6, held.length)
  }
}

/** Entry point: `Harness <plan.json> <result.json>`. The plan (written by
  * run.py) names the workload and carries every generated input; the
  * result holds raw per-operation records, set-up times and, for a traced
  * run, the spans and listener counters. */
object Harness {
  implicit val formats: Formats = DefaultFormats

  def session(cpus: Int, workDir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new graft.GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$workDir/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The untraced operation, and with a tracer also its traced twin; the
    * twin goes first on odd `i`, so warm-up drift does not bias the
    * traced-versus-untraced comparison. */
  def twins(tracer: Option[Tracer], i: Int)(untraced: => OpResult,
      traced: Tracer => OpResult): Seq[OpResult] = tracer match {
    case None => Seq(untraced)
    case Some(t) if i % 2 == 1 =>
      val b = traced(t)
      Seq(b, untraced)
    case Some(t) =>
      val a = untraced
      Seq(a, traced(t))
  }

  def main(args: Array[String]): Unit = {
    val plan = parse(Files.readString(Paths.get(args(0))))
    val workloadName = (plan \ "workload").extract[String]
    val cpus = (plan \ "cpus").extract[Int]
    val workDir = (plan \ "work_dir").extract[String]
    val trace = (plan \ "trace").extract[Boolean]
    val t0 = System.nanoTime()
    val clock = () => (System.nanoTime() - t0) / 1e9

    // set-up: from the first call into Spark (the session build) to the
    // first timed operation; warm-up and the faces_warm cache fill included
    val spark = session(cpus, workDir)
    val workload = workloadName match {
      case "ingest" => new IngestWorkload(spark, plan)
      case "faces_warm" => new FaceWorkload(spark, plan, cold = false)
      case "faces_cold" => new FaceWorkload(spark, plan, cold = true)
    }
    workload.setup()
    val setupS = clock()

    val tracer = if (trace) Some(new Tracer(spark, clock)) else None
    val (ops, passes) = workload.run(tracer)
    val out = mutable.Map[String, Any]("workload" -> workloadName,
      "setup_s" -> setupS, "passes" -> passes, "cpus" -> cpus)
    tracer.foreach { t =>
      out("spans") = t.spans.map(_.toMap).toSeq
      out("op_traces") = t.ops.map { o =>
        Map("op" -> o.op, "queries" -> o.queries, "analysis_ms" -> o.analysisMs,
          "optimization_ms" -> o.optimizationMs, "planning_ms" -> o.planningMs,
          "custom_exec_nodes" -> o.customExecNodes, "busy_s" -> o.busyS,
          "marks" -> o.marks.map { case (n, t) => Map("name" -> n, "t_s" -> t) })
      }.toSeq
    }
    out("errors") = workload.finish(out)
    out("ops") = ops.map(_.toMap)
    workload.release()
    spark.stop()
    Files.writeString(Paths.get(args(1)), Serialization.write(out.toMap))
  }
}
