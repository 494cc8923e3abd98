package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite

class FsLeaseSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  val dataDir = "/root/testdata/sf0.001"
  import operators.Similarity

  private def localFs(p: Path) =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def tmpRoot(prefix: String): Path =
    new Path("file:" + java.nio.file.Files.createTempDirectory(prefix).toString)

  test("lease acquires, runs the body, and releases — including on exception") {
    val root = tmpRoot("graft_lease")
    val fs = localFs(root)
    val lock = new Path(root, "_l")
    var ran = false
    FsLease.withLease(fs, root, "_l") {
      ran = true
      assert(fs.exists(lock), "lease file must exist while the body runs")
    }
    assert(ran && !fs.exists(lock), "lease file must be gone after release")
    intercept[RuntimeException] {
      FsLease.withLease(fs, root, "_l")(throw new RuntimeException("boom"))
    }
    assert(!fs.exists(lock), "lease must release on exception too")
  }

  test("a fresh concurrent lease fails loudly; a stale one is taken over") {
    val root = tmpRoot("graft_lease")
    val fs = localFs(root)
    val lock = new Path(root, "_l")
    val out = fs.create(lock, false)
    out.write("other-writer@somewhere 0\n".getBytes("UTF-8")); out.close()
    // fresh lease (mtime = now): acquisition must throw, naming the holder
    val e = intercept[IllegalStateException](FsLease.withLease(fs, root, "_l")(fail("body must not run")))
    assert(e.getMessage.contains("other-writer"))
    assert(fs.exists(lock), "a refused acquisition must not delete the live lease")
    // stale lease: age it past the window and the same call succeeds
    fs.setTimes(lock, System.currentTimeMillis() - 60000, -1)
    var ran = false
    FsLease.withLease(fs, root, "_l", staleAfterMs = 1000) { ran = true }
    assert(ran && !fs.exists(lock))
  }

  test("a live holder's heartbeat keeps a long-held lease from being presumed stale") {
    val root = tmpRoot("graft_lease")
    val fs = localFs(root)
    val holding = new java.util.concurrent.CountDownLatch(1)
    val release = new java.util.concurrent.CountDownLatch(1)
    // hold the lease with a 2 s stale window across a ~3 s body: the
    // heartbeat (window/3) must keep refreshing the mtime, so a
    // second writer sees a FRESH lease and fails loudly instead of
    // taking over mid-operation
    val holder = new Thread(() =>
      FsLease.withLease(fs, root, "_l", staleAfterMs = 2000) {
        holding.countDown(); release.await()
      })
    holder.start()
    try {
      assert(holding.await(10, java.util.concurrent.TimeUnit.SECONDS))
      Thread.sleep(3000) // well past the 2 s window — heartbeat must have refreshed
      intercept[IllegalStateException](
        FsLease.withLease(fs, root, "_l", staleAfterMs = 2000)(fail("must not take over a live holder")))
    } finally { release.countDown(); holder.join(10000) }
    assert(!fs.exists(new Path(root, "_l")), "holder must release on exit")
  }

  test("a second writer against a live IVF index root fails loudly instead of corrupting") {
    val root = java.nio.file.Files.createTempDirectory("graft_ivf_lease").toString
    val rootPath = new Path(s"file:$root")
    val fs = localFs(rootPath)
    val lock = new Path(rootPath, Similarity.IvfLockName)
    val out = fs.create(lock, false)
    out.write("second-driver@elsewhere 0\n".getBytes("UTF-8")); out.close()
    val defaultRoot = Similarity.ivfIndexRoot
    try {
      StateCache.dropAll()
      Similarity.ivfIndexRoot = s"file:$root"
      val e = intercept[IllegalStateException](Similarity.ivfIndex(spark, dataDir))
      assert(e.getMessage.contains(Similarity.IvfLockName))
      // the refused build must leave no manifest and no version dirs
      assert(!fs.exists(new Path(rootPath, "_ivf_manifest")))
      // after the other writer releases, the build goes through and
      // releases its own lease
      fs.delete(lock, false)
      StateCache.dropAll()
      val idx = Similarity.ivfIndex(spark, dataDir)
      assert(idx.centroids.nonEmpty && !fs.exists(lock))
    } finally {
      Similarity.ivfIndexRoot = defaultRoot
      StateCache.dropAll()
    }
  }

  test("warehouse ingest and compact refuse a root another writer holds") {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh_lease").toString
    val whPath = new Path(wh)
    val fs = localFs(whPath)
    val lock = new Path(whPath, graft.sinks.Warehouse.WriterLockName)
    val out = fs.create(lock, false)
    out.write("second-driver@elsewhere 0\n".getBytes("UTF-8")); out.close()
    val glob = graft.sources.SdfQueries.TestSdfGlob
    intercept[IllegalStateException](graft.sinks.Warehouse.ingest(spark, glob, wh))
    intercept[IllegalStateException](graft.sinks.Warehouse.compact(spark, wh))
    // release → both writers run and clean up their lease
    fs.delete(lock, false)
    val res = graft.sinks.Warehouse.ingest(spark, glob, wh)
    assert(res.filesLoaded.nonEmpty && !fs.exists(lock))
    graft.sinks.Warehouse.compact(spark, wh)
    assert(!fs.exists(lock))
  }
}
