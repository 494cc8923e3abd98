package perfbench

import graft.GraftSession
import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** Everything a workload needs: the session, the tracer, the op record
  * and where its inputs and scratch space live. */
final class Ctx(val spark: SparkSession, val tracer: Tracer, val inputs: String,
                val work: String, val seed: Long, val plan: Map[String, Int]) {
  val ops = new Ops
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var firstOpMs = 0L
  private var selfAtBegin = 0.0
  var timedTraceMs = 0.0

  /** The timed part starts: set-up ends here. */
  def begin(): Unit = { firstOpMs = System.currentTimeMillis(); selfAtBegin = tracer.selfMs }
  def end(): Unit = timedTraceMs = tracer.selfMs - selfAtBegin

  def tailOf(xs: Seq[Double]): Unit = {
    val (v, pct, n) = Stats.tail(xs)
    e2e("latency_tail_ms") = v
    extra("latency_tail_percentile") = pct
    extra("latency_tail_samples") = n
  }
}

/** Runs one workload in this JVM and writes its result as one JSON file.
  *
  * Usage: perfbench.Main <workload> <inputs> <work> <trace 0|1> <seed>
  *        <cores> <plan k=v,...> <result.json> [<spans.jsonl>] */
object Main {
  /** What the class-data-sharing archive is dumped from (see build.py):
    * a session that writes, reads and queries parquet. */
  private def loadClasses(work: String): Unit = {
    val spark = GraftSession.local(2)
    spark.range(1000).selectExpr("id", "id % 7 AS k").write.partitionBy("k").parquet(s"$work/t")
    spark.read.parquet(s"$work/t").createOrReplaceTempView("t")
    spark.sql("SELECT k, count(*) FROM t WHERE id > 10 GROUP BY k ORDER BY k").collect()
    spark.stop()
  }

  def main(args: Array[String]): Unit =
    if (args(0) == "classes") loadClasses(args(1)) else run(args)

  private def run(args: Array[String]): Unit = {
    val Array(workload, inputs, work, trace, seed, cores, planArg, out) = args.take(8)
    val spansOut = args.lift(8)
    val plan = planArg.split(",").filter(_.nonEmpty).map { kv =>
      val Array(k, v) = kv.split("=")
      k -> v.toInt
    }.toMap
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = GraftSession.local(cores.toInt)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, new Tracer(spark, trace == "1"), inputs, work, seed.toLong, plan)
    workload match {
      case "compound_build" => BuildWorkload.run(ctx)
      case "compound_serve" => ServeWorkload.run(ctx)
      case "corpus_curate" => CurateWorkload.run(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    if (ctx.tracer.enabled) spansOut.foreach(ctx.tracer.write)
    ctx.e2e("setup_s") = (ctx.firstOpMs - jvmStart) / 1000.0
    ctx.e2e("peak_rss_mb") = Host.peakRssMb
    ctx.e2e("error_rate") = ctx.ops.failed.toDouble / math.max(1, ctx.ops.attempted)
    val layers = if (ctx.tracer.enabled) Layers.compute(ctx, sessionS) else Map.empty[String, Double]
    val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
    val result = Json.obj(Seq(
      "workload" -> workload,
      "attempted" -> ctx.ops.attempted,
      "failed" -> ctx.ops.failed,
      "failures" -> ctx.ops.failures.take(20).toSeq,
      "e2e" -> ctx.e2e.toMap,
      "layers" -> layers,
      "extra" -> ctx.extra.toMap,
      "ops" -> ctx.ops.recs.map(r => Json.obj(Seq("kind" -> r.kind, "group" -> r.group,
        "ms" -> r.ms, "ok" -> r.ok))).toSeq,
      "jvm_flags" -> scala.jdk.CollectionConverters.ListHasAsScala(jvm).asScala
        .filterNot(_.startsWith("--add-opens")).toSeq,
      "spark_version" -> spark.version))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), result.json)
    spark.stop()
  }
}
