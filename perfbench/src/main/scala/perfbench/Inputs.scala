package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.RedactionParams
import graft.gen.{GenSpec, StreamFixtures, TranscriptGen}
import graft.operators.{TranscriptOps, Validation}
import graft.sketch.CountMin
import graft.text.{Normalize, Oracle, Redact}

/** Seeded inputs and their expected results, generated outside every timed
  * region and cached under a key made of every generation parameter, so a
  * second seed or size never reuses the first one's files. */
object Inputs {
  /** Bumped whenever what is generated under a key changes. */
  val Layout = "L1"

  /** Average turns per conversation of [[TranscriptGen]] (8..39 turns,
    * one in 50 conversations 120..319): sizes corpora from a turn budget. */
  val TurnsPerConv = 27.4

  def key(kind: String, spec: GenSpec, slices: Int): String =
    s"$kind-seed${spec.seed}-convs${spec.nConvs}-slices$slices-$Layout"

  /** Warm-up inputs use one fixed seed that no benchmark run is given, so
    * they are generated once per checkout. */
  val WarmSeed: Long = -1L

  /** Time-ordered slices of the corpus plus the flush slice, in their own
    * keyed directory. The `_KEY` stamp is written last, so a directory left
    * half-written by an interrupted run is generated again. Returns the
    * directory and the slice file names. */
  def slices(spark: SparkSession, root: Path, kind: String, spec: GenSpec,
             k: Int): (Path, Seq[String]) = {
    val dir = root.resolve("inputs").resolve(key(kind, spec, k))
    val stamp = dir.resolve("_KEY")
    if (!Files.exists(stamp) || new String(Files.readAllBytes(stamp), "UTF-8") != key(kind, spec, k)) {
      Harness.deleteTree(dir)
      StreamFixtures.writeSlices(spark, spec, dir.toString, k)
      Harness.writeUtf8(stamp, key(kind, spec, k))
    }
    val names = Files.list(dir).iterator().asScala.map(_.getFileName.toString)
      .filter(_.endsWith(".parquet")).toSeq.sorted
    (dir, names)
  }

  def corpus(spark: SparkSession, spec: GenSpec): DataFrame =
    TranscriptGen.dataset(spark, spec).toDF()

  /** The oracle's redaction of the valid turns, computed per conversation
    * (the oracle groups by conversation, so this equals one call over the
    * whole corpus) and spread over the session's slots. */
  def oracleRedaction(spark: SparkSession, spec: GenSpec, p: RedactionParams): DataFrame = {
    import spark.implicits._
    spark.range(0, spec.nConvs.toLong, 1, math.max(spark.sparkContext.defaultParallelism, 8))
      .flatMap(c => Oracle.redactAll(TranscriptGen.turnsFor(c, spec).filter(Validation.isValidTurn), p))
      .toDF()
  }

  val RedCols = Seq("conv_id", "turn_idx", "session_id", "text_redacted")
  val WindowCols = Seq("window_start", "role", "tool", "turn_count", "char_sum")
  val JoinCols = Seq("conv_id", "call_turn_idx", "tool", "resp_turn_idx")
  val DeadCols = Seq("conv_id", "turn_idx", "reason")

  type Digests = Map[String, (Long, java.math.BigDecimal)]

  private def cached(root: Path, name: String)(compute: => Seq[(String, (Long, java.math.BigDecimal))]): Digests = {
    val f = root.resolve("expected").resolve(name + ".tsv")
    if (!Files.exists(f))
      Harness.writeUtf8(f, compute.map { case (n, (c, h)) => s"$n\t$c\t$h" }.mkString("", "\n", "\n"))
    Files.readAllLines(f).asScala.map(_.split('\t')).map { a =>
      a(0) -> (a(1).toLong, new java.math.BigDecimal(a(2)))
    }.toMap
  }

  /** Expected digest of the redaction table, cached under the inputs' key. */
  def expectedRedaction(spark: SparkSession, root: Path, key: String, spec: GenSpec): Digests =
    cached(root, key + "-redaction") {
      Seq("redaction" -> Harness.digest(oracleRedaction(spark, spec, RedactionParams()), RedCols))
    }

  /** Expected digests of the window, join and dead-letter tables: the batch
    * operators over the same turns. */
  def expectedBranches(spark: SparkSession, root: Path, key: String, spec: GenSpec): Digests =
    cached(root, key + "-branches") {
      val tx = corpus(spark, spec)
      Seq("window" -> Harness.digest(TranscriptOps.windowStats(tx), WindowCols),
        "join" -> Harness.digest(TranscriptOps.joinPairsRaw(tx), JoinCols),
        "deadletter" -> Harness.digest(Validation.deadLetter(tx), DeadCols))
    }

  /** Rows whose text may follow the count-min estimates instead of exact
    * counts: at most one in this many. The engine learns from a count-min
    * sketch, and `RedactionParams` documents its false-positive rate (about
    * 2e-4 per below-threshold key at width 8192). */
  val SketchRowsPerFalsePositive = 10000L

  /** The redaction rules of one turn evaluated the way the stream learns:
    * its session's sentences and shingles fed through a count-min sketch in
    * event-time order, hot when the estimate reaches the threshold. */
  def sketchRedaction(spec: GenSpec, convId: String, turnIdx: Int): String = {
    val p = RedactionParams()
    val turns = TranscriptGen.turnsFor(convId.stripPrefix("conv-").toLong, spec)
      .filter(Validation.isValidTurn)
    val session = Oracle.sessionize(turns).find(_.exists(_.turn_idx == turnIdx)).get
      .sortBy(t => (t.ts.getTime, t.turn_idx))
    val sk = CountMin.empty(p.sketchDepth, p.sketchWidth)
    var learned = Set.empty[String]
    session.foreach { t =>
      val low = t.text.toLowerCase(java.util.Locale.ROOT)
      Normalize.normalizedSentencesLow(low).filter(_.length >= p.minSentenceLen).distinct
        .foreach(s => if (sk.addAndCount("s:" + s) >= p.threshold) learned += s)
      Normalize.shingleHashes(Normalize.tokensLow(low), p.shingleK).distinct
        .foreach(sk.addHash(_, 1L))
    }
    val t = session.find(_.turn_idx == turnIdx).get
    Redact.redactFull(t.text, t.role, learned, (h: Long) => sk.estimateHash(h) >= p.shingleThreshold, p)
  }

  /** Compares a redaction table with the exact oracle. Equal digests settle
    * it; otherwise a row-level join classifies the differences. Rows and
    * session ids must match exactly. A text may differ only where it equals
    * [[sketchRedaction]] (the sketch over-counted a key), in at most one row
    * in [[SketchRowsPerFalsePositive]]. */
  def checkRedaction(spark: SparkSession, root: Path, key: String, got: DataFrame, spec: GenSpec,
                     expected: Digests, r: RunResult, what: String): Boolean = {
    val d = Harness.digest(got, RedCols)
    if (d == expected("redaction")) return true
    // a table this check already classified (an earlier pass of the run)
    val accepted = root.resolve("expected").resolve(key + "-accepted.tsv")
    val seen = if (Files.exists(accepted)) Files.readAllLines(accepted).asScala.toSet else Set.empty[String]
    val line = s"${d._1}\t${d._2}"
    if (seen(line)) return true
    val want = oracleRedaction(spark, spec, RedactionParams())
      .select(col("conv_id"), col("turn_idx"), col("session_id").as("w_sid"),
        col("text_redacted").as("w_text"))
    val j = got.select("conv_id", "turn_idx", "session_id", "text_redacted")
      .join(want, Seq("conv_id", "turn_idx"), "full_outer")
    val x = j.agg(
      sum(when(col("session_id").isNull || col("w_sid").isNull, 1).otherwise(0)),
      sum(when(col("session_id") =!= col("w_sid"), 1).otherwise(0)),
      min(when(col("session_id") =!= col("w_sid"),
        concat_ws(" ", col("conv_id"), col("turn_idx"), col("session_id"), col("w_sid"))))).head()
    def n(i: Int): Long = if (x.isNullAt(i)) 0L else x.getLong(i)
    val allowed = (expected("redaction")._1 + SketchRowsPerFalsePositive - 1) / SketchRowsPerFalsePositive
    // null-safe: a null text on either side is a difference, and one the
    // sketch cannot explain (rows without a session id on both sides are
    // counted above)
    val texts = j.filter(!(col("text_redacted") <=> col("w_text")) &&
        col("session_id").isNotNull && col("w_sid").isNotNull)
      .select("conv_id", "turn_idx", "text_redacted", "w_text").limit(allowed.toInt + 1).collect()
    val unexplained = texts.filter(t => t.isNullAt(2) || t.isNullAt(3) ||
      sketchRedaction(spec, t.getString(0), t.getInt(1)) != t.getString(2))
    val ok = n(0) == 0 && n(1) == 0 && texts.length <= allowed && unexplained.isEmpty
    val example = (unexplained ++ texts).headOption
      .map(t => s"${t.get(0)} ${t.get(1)}: got '${t.get(2)}', oracle '${t.get(3)}'").getOrElse("none")
    val detail = s"rows on one side only or with a null session_id: ${n(0)}; session_id differs: ${n(1)} " +
      s"(e.g. conv turn got want: ${x.get(2)}); text differs: ${texts.length}" +
      s"${if (texts.length > allowed) "+" else ""} (allowed $allowed), not explained by " +
      s"the sketch: ${unexplained.length}; e.g. $example"
    if (ok) {
      r.info(s"$what sketch_rows") = s"${texts.length} (text follows count-min estimates; $example)"
      Harness.writeUtf8(accepted, (seen + line).mkString("", "\n", "\n"))
    } else r.check(false, s"$what redaction table differs from the oracle: $detail")
    ok
  }
}
