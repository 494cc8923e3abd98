package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._

class StateCacheSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Run `body` on `n` threads released together; their results. */
  private def race[A](n: Int)(body: => A): Seq[A] = {
    val pool = Executors.newFixedThreadPool(n)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val go = new CountDownLatch(1)
    try {
      val fs = (0 until n).map(_ => Future { go.await(); body })
      go.countDown()
      Await.result(Future.sequence(fs), 2.minutes)
    } finally pool.shutdownNow()
  }

  /** A fresh temp dir holding `name`. */
  private def tempPath(name: String): String =
    java.nio.file.Files.createTempDirectory("graft_statecache").resolve(name).toString

  test("a version flip-flop A -> B -> A rebuilds each time") {
    val builds = new AtomicInteger
    val paths = Seq("A", "B").map { v =>
      val p = tempPath(v)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(p), v)
      v -> p
    }.toMap
    def at(v: String) = StateCache.stage(spark, "spec.flipflop", Seq(paths(v))) {
      builds.incrementAndGet()
      s"built-$v"
    }
    assert(at("A") == "built-A" && at("A") == "built-A")
    assert(builds.get == 1, "a repeat of the same version must hit")
    assert(at("B") == "built-B" && builds.get == 2)
    assert(at("A") == "built-A" && builds.get == 3, "A after B must rebuild, not serve B's value")
  }

  test("threads racing on a cold key run the build once") {
    val builds = new AtomicInteger
    val got = race(8) {
      StateCache("spec.cold", 1) {
        builds.incrementAndGet()
        Thread.sleep(200)
        new Object
      }
    }
    assert(builds.get == 1)
    assert(got.forall(_ eq got.head), "every racer must get the one built value")
  }

  test("a build that throws leaves nothing to serve") {
    val builds = new AtomicInteger
    intercept[IllegalStateException](StateCache.stage(spark, "spec.throws", Nil) {
      builds.incrementAndGet(); throw new IllegalStateException("half-written")
    })
    StateCache.stage(spark, "spec.throws", Nil)(builds.incrementAndGet())
    assert(builds.get == 2, "the version whose build failed must build again")
  }

  test("a stage over a parquet path hits while its listing holds and rebuilds once after an overwrite") {
    val table = tempPath("t.parquet")
    spark.range(10).toDF("doc_id").write.parquet(table)
    val builds = new AtomicInteger
    def stage(): Unit = StateCache.stage(spark, "spec.reads", Seq(table))(builds.incrementAndGet())
    stage(); stage()
    assert(builds.get == 1, "an unchanged listing must hit")
    // the same rows, written again: new part-file names move the listing
    spark.range(10).toDF("doc_id").write.mode("overwrite").parquet(table)
    stage(); stage()
    assert(builds.get == 2, "an overwrite must rebuild once, then hit")
  }

  test("a build that reads through the cache completes when two threads race on it") {
    // the ivfIndex -> Tables.parquetCached shape: the outer build
    // infers a schema through the cache while another thread waits on
    // the outer slot
    val table = tempPath("t.parquet")
    spark.range(10).toDF("doc_id").write.parquet(table)
    val builds = new AtomicInteger
    val got = race(2) {
      StateCache("spec.nested", 1) {
        builds.incrementAndGet()
        Thread.sleep(200)
        Tables.parquetCached(spark, table).schema.fieldNames.toSeq
      }
    }
    assert(builds.get == 1)
    assert(got.distinct == Seq(Seq("doc_id")))
  }

  test("dropAll empties the cache") {
    val builds = new AtomicInteger
    StateCache("spec.drop", 1)(builds.incrementAndGet())
    StateCache.session(spark, "spec.drop", 1)(builds.incrementAndGet())
    StateCache("spec.drop", 1)(builds.incrementAndGet())
    StateCache.session(spark, "spec.drop", 1)(builds.incrementAndGet())
    assert(builds.get == 2, "JVM and session scopes are separate slots, each built once")
    StateCache.dropAll()
    StateCache("spec.drop", 1)(builds.incrementAndGet())
    StateCache.session(spark, "spec.drop", 1)(builds.incrementAndGet())
    assert(builds.get == 4, "after dropAll every slot must rebuild")
  }

  test("a stopped session's values are dropped and never served to the next session") {
    // stopping a SparkContext cannot be undone in this JVM, whose one
    // context every suite shares, so the check runs in a child JVM on
    // this JVM's classpath and flags
    val javaBin = s"${System.getProperty("java.home")}/bin/java"
    val flags = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments
      .toArray.map(_.toString).filterNot(_.startsWith("-Xmx")).toSeq
    val cmd = Seq(javaBin) ++ flags ++ Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"),
      StateCacheStoppedSessionCheck.getClass.getName.stripSuffix("$"))
    val log = java.io.File.createTempFile("graft_statecache_child", ".log")
    val proc = new ProcessBuilder(cmd: _*).redirectErrorStream(true).redirectOutput(log).start()
    val finished = proc.waitFor(5, TimeUnit.MINUTES)
    if (!finished) proc.destroyForcibly()
    val out = scala.io.Source.fromFile(log).mkString
    assert(finished, s"child JVM did not finish: $out")
    assert(proc.exitValue() == 0 && out.contains(StateCacheStoppedSessionCheck.Ok), out)
  }
}

/** The child-JVM half of the stopped-session spec. */
object StateCacheStoppedSessionCheck {
  val Ok = "STATECACHE_STOPPED_SESSION_OK"

  def main(args: Array[String]): Unit =
    try { check(); println(Ok); sys.exit(0) }
    catch { case t: Throwable => t.printStackTrace(); sys.exit(1) }

  private def check(): Unit = {
    val first = GraftSession.local(1)
    var value = new Array[Byte](1 << 20)
    val ref = new java.lang.ref.WeakReference(value)
    StateCache.session(first, "check", 1)(value)
    value = null
    first.stop()
    val second = GraftSession.local(1)
    assert(second ne first)
    val served = StateCache.session(second, "check", 1)(new Array[Byte](1))
    assert(served.length == 1, "the stopped session's value was served to the next one")
    // the access above dropped the stopped session's slot: nothing
    // holds its value any more
    var tries = 0
    while (ref.get != null && tries < 20) { System.gc(); Thread.sleep(50); tries += 1 }
    assert(ref.get == null, "the stopped session's value is still held")
    second.stop()
  }
}
