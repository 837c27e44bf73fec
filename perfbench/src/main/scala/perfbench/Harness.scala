package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Command line of one benchmark JVM. */
final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      slots: Int, out: Path, root: Path, mode: String,
                      settings: JsonNode) {
  def section: JsonNode = settings.get(workload)
  def int(key: String): Int = section.get(key).asInt()
}

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val settings = new ObjectMapper().readTree(Files.readAllBytes(Paths.get(need("settings"))))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("slots").toInt,
      Paths.get(need("out")), Paths.get(need("root")).toAbsolutePath,
      kv.getOrElse("mode", "run"), settings)
  }
}

/** One end-to-end figure with the number of samples behind it. */
final case class Figure(value: Double, unit: String, samples: Int)

/** What one JVM run hands back to `run.py`. */
final class RunResult {
  var attempted: Long = 0L
  var failed: Long = 0L
  val mismatches = scala.collection.mutable.ArrayBuffer.empty[String]
  val e2e = scala.collection.mutable.LinkedHashMap.empty[String, Figure]
  val layers = scala.collection.mutable.LinkedHashMap.empty[String, Figure]
  val info = scala.collection.mutable.LinkedHashMap.empty[String, String]

  def check(ok: Boolean, what: => String): Unit = if (!ok) mismatches += what

  def json: String = {
    def figs(m: scala.collection.Map[String, Figure]): String =
      m.map { case (k, f) =>
        s""""$k":{"value":${Json.num(f.value)},"unit":"${f.unit}","samples":${f.samples}}"""
      }.mkString("{", ",", "}")
    s"""{"correct":${mismatches.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""mismatches":${mismatches.take(20).map(Json.str).mkString("[", ",", "]")},""" +
      s""""e2e":${figs(e2e)},"layers":${figs(layers)},""" +
      s""""info":${info.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }.mkString("{", ",", "}")}}"""
  }
}

object Json {
  /** Locale-independent, full precision; never NaN or infinite. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.lang.Double.toString(v)
  def str(s: String): String = new ObjectMapper().writeValueAsString(s)
  def fmt3(v: Double): String = String.format(Locale.ROOT, "%.3f", Double.box(v))
}

object Harness {
  /** JVM start, so set-up time counts class loading and session start. */
  def processStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime

  def session(a: Args, slots: Int): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$slots]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", a.slots.toString)
      .config("spark.local.dir", a.root.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", a.root.resolve("run/spark-warehouse").toString)
    a.settings.get("spark_conf").fields().asScala.foreach(e => b.config(e.getKey, e.getValue.asText()))
    if (a.workload == "table")
      b.withExtensions(new graft.catalog.GraftExtensions()(_))
        .config("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
        .config("spark.sql.catalog.graft.warehouse", a.root.resolve("run/warehouse").toString)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def fsType(p: Path): String =
    try Files.getFileStore(p).`type`() catch { case _: Throwable => "unknown" }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.deleteIfExists(_))

  def fresh(p: Path): Path = { deleteTree(p); Files.createDirectories(p) }

  /** Memory the program holds, in MB: every memory pool (heap and
    * non-heap) plus direct and mapped buffers, right after a full
    * collection, so garbage and the heap size the JVM was given do not
    * count. Spark frees the blocks of unreachable broadcasts and shuffles
    * on its cleaner thread once a collection has found them, so there is a
    * pause and a second collection before the reading. */
  def liveMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryPoolMXBean}
    val pools = ManagementFactory.getPlatformMXBeans(classOf[MemoryPoolMXBean]).asScala
      .map(_.getUsage.getUsed).sum
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (pools + buffers) / (1024.0 * 1024.0)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Order-free digest of a result: row count plus the exact sum of a
    * 64-bit hash of the named columns. Equal digests on both sides mean the
    * same multiset of rows, up to a 2^-64 accident. */
  def digest(df: DataFrame, cols: Seq[String]): (Long, java.math.BigDecimal) = {
    val r = df.select(xxhash64(cols.map(col): _*).cast("decimal(20,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  def writeUtf8(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(StandardCharsets.UTF_8))
  }
}

/** Wall-clock intervals in ms and their union, for busy/idle splits. */
object Intervals {
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    val s = iv.filter(x => x._2 > x._1).sortBy(_._1)
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    s.foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
  def clip(iv: Seq[(Long, Long)], lo: Long, hi: Long): Seq[(Long, Long)] =
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }.filter(x => x._2 > x._1)
}
