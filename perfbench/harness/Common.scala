package perfbench

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Minimal JSON rendering for the harness's result and span files. */
object Json {
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x }).json
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): Raw =
    Raw(fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest percentile with at least 10 samples beyond it: the
    * 11th-largest sample, at percentile (n - 10) / n. Under 11 samples
    * there is no such percentile and the tail is the maximum
    * (percentile 100). Returns (value, percentile, samples). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val n = xs.length
    if (n == 0) (Double.NaN, Double.NaN, 0)
    else if (n < 11) (xs.max, 100.0, n)
    else (xs.sorted.apply(n - 11), 100.0 * (n - 10) / n, n)
  }
}

/** The end-to-end record of one run: every op's latency and whether its
  * output check passed. A failed op is counted in `failed` and never
  * enters a latency sample. */
final class Ops {
  final case class Rec(kind: String, group: Int, ms: Double, ok: Boolean)
  val recs = ArrayBuffer.empty[Rec]
  val failures = ArrayBuffer.empty[String]

  /** Time `body` as one op, then check its result outside the timed
    * window; `check` returns an error message or None. */
  def timed[A](kind: String, group: Int)(body: => A)(check: A => Option[String]): Option[A] = {
    val t0 = System.nanoTime()
    val r = try Right(body) catch { case e: Exception => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val err = r match {
      case Left(e) => Some(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}")
      case Right(v) =>
        try check(v) catch { case e: Exception => Some(s"check threw ${e.getMessage}") }
    }
    err.foreach(m => failures += s"$kind[$group]: $m")
    recs += Rec(kind, group, ms, err.isEmpty)
    r.toOption
  }

  def ok(kind: String): Seq[Double] = recs.filter(r => r.kind == kind && r.ok).map(_.ms).toSeq
  def attempted: Int = recs.length
  def failed: Int = recs.count(!_.ok)
  def totalMs: Double = recs.map(_.ms).sum

  /** Latency of each group (a batch, a round, a pass) whose ops all passed. */
  def groupMs: Seq[Double] =
    recs.groupBy(_.group).toSeq.sortBy(_._1).collect {
      case (_, rs) if rs.forall(_.ok) => rs.map(_.ms).sum
    }
}

/** Order-independent content hash of a frame's rows: each row's fields
  * (in column-name order) are mixed into a 64-bit row hash, the row
  * hashes are summed, and the row count rides along. The hash runs over
  * `queryExecution.toRdd`, so the frame's own physical plan executes,
  * every column computed, with no extra pruning. */
object RowHash {
  import scala.util.hashing.MurmurHash3.{finalizeHash, mix, mixLast}

  private def valueHash(v: Any, t: DataType, seed: Int): Int =
    if (v == null) seed ^ 0x6b43a9b5
    else t match {
      case s: StructType =>
        val r = v.asInstanceOf[InternalRow]
        var h = seed
        s.fields.zipWithIndex.sortBy(_._1.name).foreach { case (f, i) =>
          h = mix(h, valueHash(if (r.isNullAt(i)) null else r.get(i, f.dataType), f.dataType, seed))
        }
        finalizeHash(h, s.length)
      case a: ArrayType =>
        val arr = v.asInstanceOf[ArrayData]
        var h = seed ^ 0x2f1a
        var i = 0
        while (i < arr.numElements()) {
          h = mix(h, valueHash(if (arr.isNullAt(i)) null else arr.get(i, a.elementType), a.elementType, seed))
          i += 1
        }
        finalizeHash(h, arr.numElements())
      case m: MapType =>
        val md = v.asInstanceOf[org.apache.spark.sql.catalyst.util.MapData]
        (0 until md.numElements()).map { i =>
          val vs = md.valueArray()
          mix(valueHash(md.keyArray().get(i, m.keyType), m.keyType, seed),
            valueHash(if (vs.isNullAt(i)) null else vs.get(i, m.valueType), m.valueType, seed))
        }.sum
      case DoubleType => mixLast(seed, java.lang.Double.hashCode(v.asInstanceOf[Double]))
      case FloatType => mixLast(seed, java.lang.Float.hashCode(v.asInstanceOf[Float]))
      case BinaryType => scala.util.hashing.MurmurHash3.bytesHash(v.asInstanceOf[Array[Byte]], seed)
      case LongType => mixLast(seed, java.lang.Long.hashCode(v.asInstanceOf[Long]))
      case _ => mixLast(seed, v.hashCode)
    }

  def rowHash(row: InternalRow, schema: StructType): Long =
    (valueHash(row, schema, 0x5bd1e995).toLong << 32) ^
      (valueHash(row, schema, 0x1b873593).toLong & 0xffffffffL)

  /** (hash, rows) of `df`'s result. */
  def of(df: DataFrame): (Long, Long) = {
    val schema = df.schema
    df.queryExecution.toRdd.mapPartitions { it =>
      var h = 0L
      var n = 0L
      it.foreach { r => h += rowHash(r, schema); n += 1 }
      Iterator((h, n))
    }.collect().foldLeft((0L, 0L)) { case ((h, n), (h2, n2)) => (h + h2, n + n2) }
  }
}

object Host {
  /** Peak resident set of this JVM (VmHWM), MB. */
  def peakRssMb: Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def bytesUnder(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Parquet data files under `dir` (recursively). */
  def parquetFiles(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else {
      val it = fs.listFiles(p, true)
      var n = 0
      while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
      n
    }
  }
}
